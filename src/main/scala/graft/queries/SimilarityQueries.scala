package graft.queries

import graft.Tables._
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Embedding similarity-search queries over the `embeddings` table
  * (SURVEY.md §2.10). The cosine score is a strict left-to-right double
  * fold in both engines (Spark `aggregate`, DuckDB `list_reduce`), so
  * scores — and therefore rankings — are bit-identical.
  */
object SimilarityQueries {

  /** Oracle fragment: left-fold dot product of two list expressions. */
  private def duckDot(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, len($a)),
       |            i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  private val norms = Q(
    "sim_embedding_norms",
    s"""SELECT vec_id, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |FROM embeddings""".stripMargin,
  ) { (s, d) =>
    Similarity.withNorm(embeddings(s, d), "embedding").select("vec_id", "nrm")
  }

  /** Brute-force exact top-3 cosine neighbors for the first 10 vectors:
    * query side broadcast, candidates stay partitioned, per-query
    * window top-k. */
  /** Exact-cosine top-3 oracle, shared by the pair-join form
    * ([[cosineTopK]]) and the batched-kernel form ([[annBatchedTopK]])
    * — the two are bit-identical by construction, so one oracle pins
    * both. */
  private val cosineTopKSql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
       |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3""".stripMargin

  private val cosineTopK = Q(
    "sim_cosine_topk",
    cosineTopKSql,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity
      .bruteForceTopK(
        queries = emb.filter(col("vec_id") < 10),
        candidates = emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
      )
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** The batched-kernel exact top-k ([[graft.ops.Similarity.batchedTopK]]):
    * same semantics and scores as [[cosineTopK]] through a completely
    * different execution shape — query batch broadcast as primitive
    * arrays, per-partition k-heaps, no pair rows — verified against
    * the identical oracle. */
  private val annBatchedTopK = Q(
    "sim_ann_batched_topk",
    cosineTopKSql,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity
      .batchedTopK(
        queries = emb.filter(col("vec_id") < 10),
        candidates = emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
      )
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** SRP-LSH approximate nearest neighbors: exact cosine ranking within
    * each query's random-hyperplane bucket (8 planes). The hyperplanes
    * are md5-derived Rademacher vectors, so both engines build the exact
    * same index — the oracle checks the approximation itself. */
  private val annSrpTopK = Q(
    "sim_ann_srp_topk",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |d AS (
       |  SELECT vec_id, p,
       |    list_reduce(list_transform(generate_series(1, len(embedding)),
       |      i -> CAST(embedding[i] AS DOUBLE) *
       |           (CASE WHEN ascii(substr(md5(p || ':' || i), 1, 1)) >= 56
       |                 THEN 1.0 ELSE -1.0 END)), (x, y) -> x + y) AS dotp
       |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS p) pl),
       |bk AS (
       |  SELECT vec_id, SUM(CASE WHEN dotp >= 0 THEN (1 << p) ELSE 0 END) AS bucket
       |  FROM d GROUP BY vec_id),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDot("q.embedding", "c.embedding")} / (qe.nrm * ce.nrm) AS cos
       |  FROM bk qb JOIN bk cb ON qb.bucket = cb.bucket AND cb.vec_id <> qb.vec_id
       |    JOIN e q ON q.vec_id = qb.vec_id JOIN e c ON c.vec_id = cb.vec_id
       |    JOIN e qe ON qe.vec_id = qb.vec_id JOIN e ce ON ce.vec_id = cb.vec_id
       |  WHERE qb.vec_id < 10)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    Similarity
      .srpTopK(
        embeddings(s, d),
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        nPlanes = 8,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** IVF approximate nearest neighbors: 16 deterministic sampled
    * centroids (the id-ordered head of the table), candidates in their
    * single nearest cell, queries probing their 2 nearest cells, exact
    * cosine ranking within the probed cells. The whole index build is
    * deterministic arithmetic, so the oracle checks the approximation
    * structure itself — cell assignment, probing, and in-cell ranking. */
  private val annIvfTopK = Q(
    "sim_ann_ivf_topk",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cent_id, ccos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |cand AS (SELECT vec_id, cent_id FROM asg WHERE crk = 1),
       |qry AS (SELECT vec_id, cent_id FROM asg WHERE crk <= 2 AND vec_id < 10),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm) AS cos
       |  FROM qry q JOIN cand c ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
       |    JOIN e qe ON qe.vec_id = q.vec_id JOIN e ce ON ce.vec_id = c.vec_id)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity
      .ivfTopK(
        emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        nprobe = 2,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** FILTERED vector search ([[graft.ops.Similarity.ivfTopKFromIndex]]
    * with `candidatePred`, single-stage form): the metadata predicate
    * (here the id-parity stand-in `vec_id % 3 = 0`) filters index rows
    * BEFORE the probe join, so probed cells contribute exactly their
    * matching members — the selective-filter regime where post-filter
    * oversampling collapses. Same exact-replay oracle as
    * `sim_ann_ivf_topk` with the predicate mirrored in the `cand` CTE. */
  private val annIvfFilteredTopK = Q(
    "sim_ann_ivf_filtered_topk",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cent_id, ccos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |cand AS (SELECT vec_id, cent_id FROM asg WHERE crk = 1 AND vec_id % 3 = 0),
       |qry AS (SELECT vec_id, cent_id FROM asg WHERE crk <= 2 AND vec_id < 10),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm) AS cos
       |  FROM qry q JOIN cand c ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
       |    JOIN e qe ON qe.vec_id = q.vec_id JOIN e ce ON ce.vec_id = c.vec_id)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity
      .ivfTopK(
        emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        nprobe = 2,
        queryPred = col("vec_id") < 10,
        candidatePred = col("vec_id") % 3 === 0,
      )
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** FILTERED-ANN RECALL-vs-SELECTIVITY SWEEP (the
    * `ddp_lsh_banding_sweep` acceptance-artifact pattern): one shared
    * index, three predicate selectivities (id mod 2/4/8 ≈ 50/25/12%),
    * each config's single-stage filtered probe scored against the
    * EXACT filtered brute-force truth — the curve an operator reads
    * before picking nprobe for a filtered workload (single-stage
    * filtering degrades only through cell misses, so recall should
    * hold as selectivity tightens; a post-filter design would
    * collapse). Everything is deterministic, so the oracle replays
    * both paths and the exact hit counts. */
  private val annIvfFilteredSweep = Q(
    "sim_ann_filtered_sweep", {
      def cfg(m: Int): String =
        s"""truth_$m AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
           |    FROM e q JOIN e c ON c.vec_id <> q.vec_id AND c.vec_id % $m = 0
           |    WHERE q.vec_id < 10)
           |  WHERE rnk <= 3),
           |ann_$m AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${duckDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm) DESC, c.vec_id) AS rnk
           |    FROM (SELECT vec_id, cent_id FROM asg WHERE crk <= 2 AND vec_id < 10) q
           |    JOIN (SELECT vec_id, cent_id FROM asg WHERE crk = 1 AND vec_id % $m = 0) c
           |      ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
           |    JOIN e qe ON qe.vec_id = q.vec_id JOIN e ce ON ce.vec_id = c.vec_id)
           |  WHERE rnk <= 3),
           |row_$m AS (
           |  SELECT CAST($m AS BIGINT) AS modulus,
           |    (SELECT count(*) FROM truth_$m) AS n_truth,
           |    (SELECT count(*) FROM ann_$m) AS n_ann,
           |    (SELECT count(*) FROM truth_$m t JOIN ann_$m a USING (q_id, n_id)) AS n_hit)"""
          .stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
         |asg AS (
         |  SELECT vec_id, cent_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
         |  FROM (
         |    SELECT e.vec_id, cent_id,
         |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
         |    FROM e CROSS JOIN cent)),
         |${cfg(2)},
         |${cfg(4)},
         |${cfg(8)}
         |SELECT modulus, CAST(n_truth AS BIGINT) AS n_truth, CAST(n_ann AS BIGINT) AS n_ann,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(n_hit * 1000000 // nullif(n_truth, 0) AS BIGINT) AS recall_ppm
         |FROM (SELECT * FROM row_2 UNION ALL SELECT * FROM row_4 UNION ALL SELECT * FROM row_8)"""
        .stripMargin
    },
  ) { (s, d) =>
    val emb   = embeddings(s, d)
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
    val index = Similarity.ivfIndex(emb, "vec_id", "embedding", cents).localCheckpoint(eager = false)
    val rows = Seq(2, 4, 8).map { m =>
      val pred = col("vec_id") % m === 0
      val truth = Similarity
        .bruteForceTopK(emb.filter(col("vec_id") < 10), emb.filter(pred),
          "vec_id", "embedding", k = 3)
        .select(col("q_id"), col("n_id"), lit(1L).as("__t"))
      val ann = Similarity
        .ivfTopKFromIndex(index, "vec_id", "embedding", k = 3, cents,
          nprobe = 2, queryPred = col("vec_id") < 10, candidatePred = pred)
        .select(col("q_id"), col("n_id"), lit(1L).as("__a"))
      truth
        .join(ann, Seq("q_id", "n_id"), "full_outer")
        .agg(
          sum(col("__t")).as("n_truth"),
          sum(col("__a")).as("n_ann"),
          sum(col("__t") * col("__a")).as("n_hit"),
        )
        .select(
          lit(m.toLong).as("modulus"),
          coalesce(col("n_truth"), lit(0L)).as("n_truth"),
          coalesce(col("n_ann"), lit(0L)).as("n_ann"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        )
        .withColumn("recall_ppm", expr("n_hit * 1000000L div nullif(n_truth, 0)"))
    }
    rows.reduce(_ unionByName _)
  }

  /** IVF ANN over a Lloyd-REFINED codebook: one refinement iteration
    * (assign to the 16 sampled seeds, per-cell per-dimension mean
    * through DECIMAL(38,12) sums — order-independent, so the refined
    * codebook is bit-deterministic — cast back to float), then the
    * same probe/rank dataflow as `sim_ann_ivf_topk`. The oracle
    * replays the identical refinement arithmetic (decimal sums cast
    * via VARCHAR: DuckDB's direct decimal→double cast double-rounds
    * past 2^53), so index training, not just search, is
    * differential-checked end to end. */
  private val annIvfRefinedTopK = Q(
    "sim_ann_ivf_refined_topk",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |seed AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
       |seedasg AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id, ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN seed)),
       |members AS (
       |  SELECT a.cent_id, e.embedding
       |  FROM seedasg a JOIN e ON e.vec_id = a.vec_id WHERE a.crk = 1),
       |dims AS (
       |  SELECT cent_id, i.i AS pos,
       |    CAST(CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM members CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT cent_id, cemb, sqrt(${duckDot("cemb", "cemb")}) AS cnrm FROM (
       |    SELECT s.cent_id, coalesce(n.cemb, s.cemb) AS cemb
       |    FROM seed s LEFT JOIN (
       |      SELECT cent_id, list(CAST(m AS REAL) ORDER BY pos) AS cemb
       |      FROM dims GROUP BY cent_id) n ON n.cent_id = s.cent_id)),
       |asg AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id, ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |cand AS (SELECT vec_id, cent_id FROM asg WHERE crk = 1),
       |qry AS (SELECT vec_id, cent_id FROM asg WHERE crk <= 2 AND vec_id < 10),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm) AS cos
       |  FROM qry q JOIN cand c ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
       |    JOIN e qe ON qe.vec_id = q.vec_id JOIN e ce ON ce.vec_id = c.vec_id)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity
      .ivfTopK(
        emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = Similarity.ivfRefine(
          emb,
          Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
          "vec_id",
          "embedding",
          iters = 1,
        ),
        nprobe = 2,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** Symmetric int8 scalar quantization
    * ([[graft.ops.Similarity.quantizeInt8]]): exactly-rounded
    * double ops only, so codes are engine-reproducible; the oracle
    * replays the identical widen-scale-floor chain. The code vector is
    * serialized to its JSON text (`[1,-2,...]`, identical in both
    * engines for integers) because the driver's differential harness
    * cannot sort rows on a raw array column. */
  private val quantizeInt8 = Q(
    "sim_quantize_int8",
    """WITH m AS (
      |  SELECT vec_id, embedding,
      |    list_aggregate(list_transform(embedding,
      |      v -> abs(CAST(v AS DOUBLE))), 'max') AS q_scale
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, q_scale,
      |    list_transform(embedding,
      |      v -> CAST(floor(CAST(v AS DOUBLE) * 127
      |                      / (CASE WHEN q_scale = 0 THEN 1 ELSE q_scale END)
      |                      + 0.5) AS BIGINT)) AS q_emb
      |  FROM m)
      |SELECT vec_id, q_scale,
      |  CAST(to_json(q_emb) AS VARCHAR) AS q_emb,
      |  len(list_filter(q_emb, x -> abs(x) = 127)) AS n_sat
      |FROM q""".stripMargin,
  ) { (s, d) =>
    Similarity
      .quantizeInt8(embeddings(s, d), "embedding")
      .select(
        col("vec_id"),
        col("q_scale"),
        to_json(col("q_emb")).as("q_emb"),
        col("n_sat"),
      )
  }

  /** Quantized-dot top-3 for the first 10 vectors
    * ([[graft.ops.Similarity.bruteForceTopKInt8]]): all-integer
    * scoring, so the oracle checks the complete ranking — codes,
    * scores, and cut — with zero float tolerance. */
  private val annInt8TopK = Q(
    "sim_ann_int8_topk",
    """WITH m AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      v -> CAST(floor(CAST(v AS DOUBLE) * 127
      |                      / (CASE WHEN s = 0 THEN 1 ELSE s END)
      |                      + 0.5) AS BIGINT)) AS q
      |  FROM (SELECT vec_id, embedding,
      |          list_aggregate(list_transform(embedding,
      |            v -> abs(CAST(v AS DOUBLE))), 'max') AS s
      |        FROM embeddings)),
      |pairs AS (
      |  SELECT qs.vec_id AS q_id, c.vec_id AS n_id,
      |    list_reduce(list_transform(generate_series(1, len(qs.q)),
      |      i -> qs.q[i] * c.q[i]), (x, y) -> x + y) AS qdot
      |  FROM m qs JOIN m c ON c.vec_id <> qs.vec_id
      |  WHERE qs.vec_id < 10)
      |SELECT q_id, n_id, qdot, rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |                               ORDER BY qdot DESC, n_id) AS rnk
      |  FROM pairs)
      |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity
      .bruteForceTopKInt8(
        queries = emb.filter(col("vec_id") < 10),
        candidates = emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
      )
      .select("q_id", "n_id", "qdot", "rnk")
  }

  /** Two-stage retrieve-then-rerank ([[graft.ops.Similarity.annRerankTopK]]):
    * the int8 stage over-fetches 9 candidates per query (k=3, mult=3),
    * then only those are re-scored with the exact float inner product
    * and cut to 3. The oracle replays both stages — quantization, the
    * integer pool cut, and the float rerank — so the composition
    * itself is differentially checked. */
  private val annRerankTopK = Q(
    "sim_ann_rerank_topk",
    s"""WITH m AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      v -> CAST(floor(CAST(v AS DOUBLE) * 127
       |                      / (CASE WHEN s = 0 THEN 1 ELSE s END)
       |                      + 0.5) AS BIGINT)) AS q
       |  FROM (SELECT vec_id, embedding,
       |          list_aggregate(list_transform(embedding,
       |            v -> abs(CAST(v AS DOUBLE))), 'max') AS s
       |        FROM embeddings)),
       |pool AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT qs.vec_id AS q_id, c.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY qs.vec_id ORDER BY
       |        list_reduce(list_transform(generate_series(1, len(qs.q)),
       |          i -> qs.q[i] * c.q[i]), (x, y) -> x + y) DESC, c.vec_id) AS prnk
       |    FROM m qs JOIN m c ON c.vec_id <> qs.vec_id
       |    WHERE qs.vec_id < 10)
       |  WHERE prnk <= 9),
       |re AS (
       |  SELECT p.q_id, p.n_id, ${duckDot("q.embedding", "c.embedding")} AS fdot
       |  FROM pool p JOIN embeddings q ON q.vec_id = p.q_id
       |              JOIN embeddings c ON c.vec_id = p.n_id)
       |SELECT q_id, n_id, fdot, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY fdot DESC, n_id) AS rnk
       |  FROM re)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity
      .annRerankTopK(
        queries = emb.filter(col("vec_id") < 10),
        candidates = emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        mult = 3,
      )
      .select(col("q_id"), col("n_id"), col("dot").as("fdot"), col("rnk"))
  }

  /** IVF-SQ8 ([[graft.ops.Similarity.annIvfInt8TopK]]): the float
    * coarse quantizer routes (16 cells, nprobe=2, replayed exactly),
    * int8 codes score inside the probed cells — the ranking the oracle
    * checks is pure integer, so the composition (assignment ∘
    * quantization ∘ integer cut) carries zero float tolerance. */
  private val annIvfInt8TopK = Q(
    "sim_ann_ivf_int8_topk",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |m AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      v -> CAST(floor(CAST(v AS DOUBLE) * 127
       |                      / (CASE WHEN s = 0 THEN 1 ELSE s END)
       |                      + 0.5) AS BIGINT)) AS q
       |  FROM (SELECT vec_id, embedding,
       |          list_aggregate(list_transform(embedding,
       |            v -> abs(CAST(v AS DOUBLE))), 'max') AS s
       |        FROM embeddings)),
       |cand AS (SELECT a.vec_id, a.cent_id, m.q FROM asg a JOIN m USING (vec_id) WHERE crk = 1),
       |qry AS (SELECT a.vec_id, a.cent_id, m.q FROM asg a JOIN m USING (vec_id)
       |        WHERE crk <= 2 AND a.vec_id < 10),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    list_reduce(list_transform(generate_series(1, len(q.q)),
       |      i -> q.q[i] * c.q[i]), (x, y) -> x + y) AS qdot
       |  FROM qry q JOIN cand c ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id)
       |SELECT q_id, n_id, qdot, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, n_id) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity
      .annIvfInt8TopK(
        emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        nprobe = 2,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id", "qdot", "rnk")
  }

  /** PQ-ADC top-3 ([[graft.ops.Similarity.pqAdcTopK]]): 8 subspaces ×
    * 16 int8 codes, one per-subspace Lloyd training round
    * ([[graft.ops.Similarity.pqRefineFromSubs]]), queries vec_id < 10. The
    * oracle replays the ENTIRE product-quantization pipeline —
    * quantization, codebook seeding, the Lloyd round (assign +
    * integer rounded-mean recompute), nearest-code encoding, the query
    * LUT, and ADC summation — in integer arithmetic, so training,
    * refinement, encoding, and scoring are all differentially checked
    * with zero float tolerance. */
  private val annPqTopK = Q(
    "sim_ann_pq_topk",
    """WITH mq AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      v -> CAST(floor(CAST(v AS DOUBLE) * 127
      |                      / (CASE WHEN s = 0 THEN 1 ELSE s END)
      |                      + 0.5) AS BIGINT)) AS q
      |  FROM (SELECT vec_id, embedding,
      |          list_aggregate(list_transform(embedding,
      |            v -> abs(CAST(v AS DOUBLE))), 'max') AS s
      |        FROM embeddings)),
      |seeds AS (
      |  SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) - 1 AS code_id
      |  FROM mq WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
      |cb0 AS (
      |  SELECT sub_id, code_id, q[(sub_id*8+1):(sub_id*8+8)] AS code
      |  FROM seeds, (SELECT unnest(generate_series(0, 7)) AS sub_id)),
      |subs AS (
      |  SELECT vec_id, sub_id, q[(sub_id*8+1):(sub_id*8+8)] AS qsub
      |  FROM mq, (SELECT unnest(generate_series(0, 7)) AS sub_id)),
      |enc0 AS (
      |  SELECT vec_id, sub_id, code_id FROM (
      |    SELECT s.vec_id, s.sub_id, c.code_id,
      |      row_number() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
      |        list_reduce(list_transform(generate_series(1, 8),
      |          i -> (s.qsub[i] - c.code[i]) * (s.qsub[i] - c.code[i])), (x, y) -> x + y),
      |        c.code_id) AS rn
      |    FROM subs s JOIN cb0 c ON c.sub_id = s.sub_id)
      |  WHERE rn = 1),
      |m1 AS (
      |  SELECT e.sub_id, e.code_id, p.pos,
      |    CAST(floor((2 * sum(s.qsub[p.pos]) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cval
      |  FROM enc0 e
      |  JOIN subs s ON s.vec_id = e.vec_id AND s.sub_id = e.sub_id
      |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS pos) p
      |  GROUP BY 1, 2, 3),
      |cb AS (
      |  SELECT c0.sub_id, c0.code_id, coalesce(n.code, c0.code) AS code
      |  FROM cb0 c0 LEFT JOIN (
      |    SELECT sub_id, code_id, list(cval ORDER BY pos) AS code
      |    FROM m1 GROUP BY 1, 2) n
      |  ON n.sub_id = c0.sub_id AND n.code_id = c0.code_id),
      |enc AS (
      |  SELECT vec_id, sub_id, code_id FROM (
      |    SELECT s.vec_id, s.sub_id, c.code_id,
      |      row_number() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
      |        list_reduce(list_transform(generate_series(1, 8),
      |          i -> (s.qsub[i] - c.code[i]) * (s.qsub[i] - c.code[i])), (x, y) -> x + y),
      |        c.code_id) AS rn
      |    FROM subs s JOIN cb c ON c.sub_id = s.sub_id)
      |  WHERE rn = 1),
      |lut AS (
      |  SELECT s.vec_id AS q_id, s.sub_id, c.code_id,
      |    list_reduce(list_transform(generate_series(1, 8),
      |      i -> s.qsub[i] * c.code[i]), (x, y) -> x + y) AS pdot
      |  FROM subs s JOIN cb c ON c.sub_id = s.sub_id
      |  WHERE s.vec_id < 10),
      |scored AS (
      |  SELECT l.q_id, e.vec_id AS n_id, CAST(sum(l.pdot) AS BIGINT) AS adc
      |  FROM enc e JOIN lut l ON l.sub_id = e.sub_id AND l.code_id = e.code_id
      |  WHERE e.vec_id <> l.q_id
      |  GROUP BY 1, 2)
      |SELECT q_id, n_id, adc, rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rnk
      |  FROM scored)
      |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    Similarity
      .pqAdcTopK(
        embeddings(s, d),
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        m = 8,
        ksub = 16,
        queryPred = col("vec_id") < 10,
        trainIters = 1,
      )
      .select("q_id", "n_id", "adc", "rnk")
  }

  /** IVF-PQ ([[graft.ops.Similarity.annIvfPqTopK]]): the float coarse
    * quantizer routes (16 cells, nprobe=2, replayed exactly as in
    * `sim_ann_ivf_int8_topk`), PQ codes score inside the probed cells
    * (8×16 integer codebook replayed exactly as in `sim_ann_pq_topk`)
    * — the full billion-scale index composition, differentially
    * checked: routing, training, encoding, and the ADC ranking. */
  private val annIvfPqTopK = Q(
    "sim_ann_ivf_pq_topk",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |mq AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      v -> CAST(floor(CAST(v AS DOUBLE) * 127
       |                      / (CASE WHEN s = 0 THEN 1 ELSE s END)
       |                      + 0.5) AS BIGINT)) AS q
       |  FROM (SELECT vec_id, embedding,
       |          list_aggregate(list_transform(embedding,
       |            v -> abs(CAST(v AS DOUBLE))), 'max') AS s
       |        FROM embeddings)),
       |seeds AS (
       |  SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) - 1 AS code_id
       |  FROM mq WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
       |cb0 AS (
       |  SELECT sub_id, code_id, q[(sub_id*8+1):(sub_id*8+8)] AS code
       |  FROM seeds, (SELECT unnest(generate_series(0, 7)) AS sub_id)),
       |subs AS (
       |  SELECT vec_id, sub_id, q[(sub_id*8+1):(sub_id*8+8)] AS qsub
       |  FROM mq, (SELECT unnest(generate_series(0, 7)) AS sub_id)),
       |enc0 AS (
       |  SELECT vec_id, sub_id, code_id FROM (
       |    SELECT s.vec_id, s.sub_id, c.code_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
       |        list_reduce(list_transform(generate_series(1, 8),
       |          i -> (s.qsub[i] - c.code[i]) * (s.qsub[i] - c.code[i])), (x, y) -> x + y),
       |        c.code_id) AS rn
       |    FROM subs s JOIN cb0 c ON c.sub_id = s.sub_id)
       |  WHERE rn = 1),
       |m1 AS (
       |  SELECT e.sub_id, e.code_id, p.pos,
       |    CAST(floor((2 * sum(s.qsub[p.pos]) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cval
       |  FROM enc0 e
       |  JOIN subs s ON s.vec_id = e.vec_id AND s.sub_id = e.sub_id
       |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS pos) p
       |  GROUP BY 1, 2, 3),
       |cb AS (
       |  SELECT c0.sub_id, c0.code_id, coalesce(n.code, c0.code) AS code
       |  FROM cb0 c0 LEFT JOIN (
       |    SELECT sub_id, code_id, list(cval ORDER BY pos) AS code
       |    FROM m1 GROUP BY 1, 2) n
       |  ON n.sub_id = c0.sub_id AND n.code_id = c0.code_id),
       |encpq AS (
       |  SELECT vec_id, sub_id, code_id FROM (
       |    SELECT s.vec_id, s.sub_id, c.code_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
       |        list_reduce(list_transform(generate_series(1, 8),
       |          i -> (s.qsub[i] - c.code[i]) * (s.qsub[i] - c.code[i])), (x, y) -> x + y),
       |        c.code_id) AS rn
       |    FROM subs s JOIN cb c ON c.sub_id = s.sub_id)
       |  WHERE rn = 1),
       |candcodes AS (
       |  SELECT a.vec_id, a.cent_id, p.sub_id, p.code_id
       |  FROM asg a JOIN encpq p ON p.vec_id = a.vec_id
       |  WHERE a.crk = 1),
       |qcells AS (SELECT vec_id AS q_id, cent_id FROM asg WHERE crk <= 2 AND vec_id < 10),
       |lut AS (
       |  SELECT s.vec_id AS q_id, s.sub_id, c.code_id,
       |    list_reduce(list_transform(generate_series(1, 8),
       |      i -> s.qsub[i] * c.code[i]), (x, y) -> x + y) AS pdot
       |  FROM subs s JOIN cb c ON c.sub_id = s.sub_id
       |  WHERE s.vec_id < 10),
       |scored AS (
       |  SELECT qc.q_id, cc.vec_id AS n_id, CAST(sum(l.pdot) AS BIGINT) AS adc
       |  FROM candcodes cc
       |  JOIN qcells qc ON qc.cent_id = cc.cent_id
       |  JOIN lut l ON l.q_id = qc.q_id AND l.sub_id = cc.sub_id AND l.code_id = cc.code_id
       |  WHERE cc.vec_id <> qc.q_id
       |  GROUP BY 1, 2)
       |SELECT q_id, n_id, adc, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity
      .annIvfPqTopK(
        emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        m = 8,
        ksub = 16,
        centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        nprobe = 2,
        queryPred = col("vec_id") < 10,
        trainIters = 1,
      )
      .select("q_id", "n_id", "adc", "rnk")
  }

  /** The fully-TRAINED billion-scale composition: Lloyd-refined float
    * coarse quantizer (as `sim_ann_ivf_refined_topk`) routing into
    * Lloyd-trained integer PQ codebooks (as `sim_ann_pq_topk`) — both
    * training loops, the routing, the encoding, and the ADC ranking
    * replayed by the oracle. Pure composition of existing operators;
    * this is the one-call shape a production index build runs. */
  private val annIvfPqTrainedTopK = Q(
    "sim_ann_ivf_pq_trained_topk",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |seed AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
       |seedasg AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id, ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN seed)),
       |members AS (
       |  SELECT a.cent_id, e.embedding
       |  FROM seedasg a JOIN e ON e.vec_id = a.vec_id WHERE a.crk = 1),
       |dims AS (
       |  SELECT cent_id, i.i AS pos,
       |    CAST(CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM members CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT cent_id, cemb, sqrt(${duckDot("cemb", "cemb")}) AS cnrm FROM (
       |    SELECT s.cent_id, coalesce(n.cemb, s.cemb) AS cemb
       |    FROM seed s LEFT JOIN (
       |      SELECT cent_id, list(CAST(m AS REAL) ORDER BY pos) AS cemb
       |      FROM dims GROUP BY cent_id) n ON n.cent_id = s.cent_id)),
       |asg AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id, ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |mq AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      v -> CAST(floor(CAST(v AS DOUBLE) * 127
       |                      / (CASE WHEN s = 0 THEN 1 ELSE s END)
       |                      + 0.5) AS BIGINT)) AS q
       |  FROM (SELECT vec_id, embedding,
       |          list_aggregate(list_transform(embedding,
       |            v -> abs(CAST(v AS DOUBLE))), 'max') AS s
       |        FROM embeddings)),
       |seeds AS (
       |  SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) - 1 AS code_id
       |  FROM mq WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
       |cb0 AS (
       |  SELECT sub_id, code_id, q[(sub_id*8+1):(sub_id*8+8)] AS code
       |  FROM seeds, (SELECT unnest(generate_series(0, 7)) AS sub_id)),
       |subs AS (
       |  SELECT vec_id, sub_id, q[(sub_id*8+1):(sub_id*8+8)] AS qsub
       |  FROM mq, (SELECT unnest(generate_series(0, 7)) AS sub_id)),
       |enc0 AS (
       |  SELECT vec_id, sub_id, code_id FROM (
       |    SELECT s.vec_id, s.sub_id, c.code_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
       |        list_reduce(list_transform(generate_series(1, 8),
       |          i -> (s.qsub[i] - c.code[i]) * (s.qsub[i] - c.code[i])), (x, y) -> x + y),
       |        c.code_id) AS rn
       |    FROM subs s JOIN cb0 c ON c.sub_id = s.sub_id)
       |  WHERE rn = 1),
       |m1 AS (
       |  SELECT e.sub_id, e.code_id, p.pos,
       |    CAST(floor((2 * sum(s.qsub[p.pos]) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cval
       |  FROM enc0 e
       |  JOIN subs s ON s.vec_id = e.vec_id AND s.sub_id = e.sub_id
       |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS pos) p
       |  GROUP BY 1, 2, 3),
       |cb AS (
       |  SELECT c0.sub_id, c0.code_id, coalesce(n.code, c0.code) AS code
       |  FROM cb0 c0 LEFT JOIN (
       |    SELECT sub_id, code_id, list(cval ORDER BY pos) AS code
       |    FROM m1 GROUP BY 1, 2) n
       |  ON n.sub_id = c0.sub_id AND n.code_id = c0.code_id),
       |encpq AS (
       |  SELECT vec_id, sub_id, code_id FROM (
       |    SELECT s.vec_id, s.sub_id, c.code_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
       |        list_reduce(list_transform(generate_series(1, 8),
       |          i -> (s.qsub[i] - c.code[i]) * (s.qsub[i] - c.code[i])), (x, y) -> x + y),
       |        c.code_id) AS rn
       |    FROM subs s JOIN cb c ON c.sub_id = s.sub_id)
       |  WHERE rn = 1),
       |candcodes AS (
       |  SELECT a.vec_id, a.cent_id, p.sub_id, p.code_id
       |  FROM asg a JOIN encpq p ON p.vec_id = a.vec_id
       |  WHERE a.crk = 1),
       |qcells AS (SELECT vec_id AS q_id, cent_id FROM asg WHERE crk <= 2 AND vec_id < 10),
       |lut AS (
       |  SELECT s.vec_id AS q_id, s.sub_id, c.code_id,
       |    list_reduce(list_transform(generate_series(1, 8),
       |      i -> s.qsub[i] * c.code[i]), (x, y) -> x + y) AS pdot
       |  FROM subs s JOIN cb c ON c.sub_id = s.sub_id
       |  WHERE s.vec_id < 10),
       |scored AS (
       |  SELECT qc.q_id, cc.vec_id AS n_id, CAST(sum(l.pdot) AS BIGINT) AS adc
       |  FROM candcodes cc
       |  JOIN qcells qc ON qc.cent_id = cc.cent_id
       |  JOIN lut l ON l.q_id = qc.q_id AND l.sub_id = cc.sub_id AND l.code_id = cc.code_id
       |  WHERE cc.vec_id <> qc.q_id
       |  GROUP BY 1, 2)
       |SELECT q_id, n_id, adc, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    Similarity
      .annIvfPqTrainedTopK(
        embeddings(s, d),
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        m = 8,
        ksub = 16,
        nCells = 16,
        nprobe = 2,
        queryPred = col("vec_id") < 10,
        coarseIters = 1,
        trainIters = 1,
      )
      .select("q_id", "n_id", "adc", "rnk")
  }

  /** `sim_ann_ivf_pq_trained_topk` with BOUNDED training: both Lloyd
    * loops scan a deterministic 256-vector md5-ordered sample
    * ([[graft.ops.Similarity.trainingSample]]) instead of the full
    * corpus — the Faiss-standard ~256-points-per-centroid regime, and
    * the configuration that keeps index construction O(sample) per
    * round while encode/query still cover everything. The oracle
    * re-derives the identical sample (`ORDER BY md5(id), id LIMIT
    * 256`) and replays training, encoding, routing, and ADC ranking
    * over it, so the sampled index itself is differentially checked. */
  private val annIvfPqSampledTopK = Q(
    "sim_ann_ivf_pq_sampled_topk",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |samp AS (
       |  SELECT vec_id FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 256),
       |seed AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
       |seedasg AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id, ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e JOIN samp USING (vec_id) CROSS JOIN seed)),
       |members AS (
       |  SELECT a.cent_id, e.embedding
       |  FROM seedasg a JOIN e ON e.vec_id = a.vec_id WHERE a.crk = 1),
       |dims AS (
       |  SELECT cent_id, i.i AS pos,
       |    CAST(CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM members CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT cent_id, cemb, sqrt(${duckDot("cemb", "cemb")}) AS cnrm FROM (
       |    SELECT s.cent_id, coalesce(n.cemb, s.cemb) AS cemb
       |    FROM seed s LEFT JOIN (
       |      SELECT cent_id, list(CAST(m AS REAL) ORDER BY pos) AS cemb
       |      FROM dims GROUP BY cent_id) n ON n.cent_id = s.cent_id)),
       |asg AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id, ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |mq AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      v -> CAST(floor(CAST(v AS DOUBLE) * 127
       |                      / (CASE WHEN s = 0 THEN 1 ELSE s END)
       |                      + 0.5) AS BIGINT)) AS q
       |  FROM (SELECT vec_id, embedding,
       |          list_aggregate(list_transform(embedding,
       |            v -> abs(CAST(v AS DOUBLE))), 'max') AS s
       |        FROM embeddings)),
       |seeds AS (
       |  SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) - 1 AS code_id
       |  FROM mq WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
       |cb0 AS (
       |  SELECT sub_id, code_id, q[(sub_id*8+1):(sub_id*8+8)] AS code
       |  FROM seeds, (SELECT unnest(generate_series(0, 7)) AS sub_id)),
       |subs AS (
       |  SELECT vec_id, sub_id, q[(sub_id*8+1):(sub_id*8+8)] AS qsub
       |  FROM mq, (SELECT unnest(generate_series(0, 7)) AS sub_id)),
       |trsubs AS (
       |  SELECT s.* FROM subs s JOIN samp USING (vec_id)),
       |enc0 AS (
       |  SELECT vec_id, sub_id, code_id FROM (
       |    SELECT s.vec_id, s.sub_id, c.code_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
       |        list_reduce(list_transform(generate_series(1, 8),
       |          i -> (s.qsub[i] - c.code[i]) * (s.qsub[i] - c.code[i])), (x, y) -> x + y),
       |        c.code_id) AS rn
       |    FROM trsubs s JOIN cb0 c ON c.sub_id = s.sub_id)
       |  WHERE rn = 1),
       |m1 AS (
       |  SELECT e.sub_id, e.code_id, p.pos,
       |    CAST(floor((2 * sum(s.qsub[p.pos]) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cval
       |  FROM enc0 e
       |  JOIN trsubs s ON s.vec_id = e.vec_id AND s.sub_id = e.sub_id
       |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS pos) p
       |  GROUP BY 1, 2, 3),
       |cb AS (
       |  SELECT c0.sub_id, c0.code_id, coalesce(n.code, c0.code) AS code
       |  FROM cb0 c0 LEFT JOIN (
       |    SELECT sub_id, code_id, list(cval ORDER BY pos) AS code
       |    FROM m1 GROUP BY 1, 2) n
       |  ON n.sub_id = c0.sub_id AND n.code_id = c0.code_id),
       |encpq AS (
       |  SELECT vec_id, sub_id, code_id FROM (
       |    SELECT s.vec_id, s.sub_id, c.code_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
       |        list_reduce(list_transform(generate_series(1, 8),
       |          i -> (s.qsub[i] - c.code[i]) * (s.qsub[i] - c.code[i])), (x, y) -> x + y),
       |        c.code_id) AS rn
       |    FROM subs s JOIN cb c ON c.sub_id = s.sub_id)
       |  WHERE rn = 1),
       |candcodes AS (
       |  SELECT a.vec_id, a.cent_id, p.sub_id, p.code_id
       |  FROM asg a JOIN encpq p ON p.vec_id = a.vec_id
       |  WHERE a.crk = 1),
       |qcells AS (SELECT vec_id AS q_id, cent_id FROM asg WHERE crk <= 2 AND vec_id < 10),
       |lut AS (
       |  SELECT s.vec_id AS q_id, s.sub_id, c.code_id,
       |    list_reduce(list_transform(generate_series(1, 8),
       |      i -> s.qsub[i] * c.code[i]), (x, y) -> x + y) AS pdot
       |  FROM subs s JOIN cb c ON c.sub_id = s.sub_id
       |  WHERE s.vec_id < 10),
       |scored AS (
       |  SELECT qc.q_id, cc.vec_id AS n_id, CAST(sum(l.pdot) AS BIGINT) AS adc
       |  FROM candcodes cc
       |  JOIN qcells qc ON qc.cent_id = cc.cent_id
       |  JOIN lut l ON l.q_id = qc.q_id AND l.sub_id = cc.sub_id AND l.code_id = cc.code_id
       |  WHERE cc.vec_id <> qc.q_id
       |  GROUP BY 1, 2)
       |SELECT q_id, n_id, adc, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    Similarity
      .annIvfPqTrainedTopK(
        embeddings(s, d),
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        m = 8,
        ksub = 16,
        nCells = 16,
        nprobe = 2,
        queryPred = col("vec_id") < 10,
        coarseIters = 1,
        trainIters = 1,
        trainSample = 256,
      )
      .select("q_id", "n_id", "adc", "rnk")
  }

  /** Incremental IVF index maintenance ([[Similarity.ivfAppend]]): the
    * coarse quantizer is trained on the FIRST HALF of the corpus only
    * (even vec_ids), that half is indexed, and the second half arrives
    * later as a delta assigned to the frozen centroids and appended —
    * the 100 TB growth path where per-batch re-training is a
    * non-starter. The oracle assigns the whole corpus to the same
    * frozen centroid set, so the differential checks that the
    * incremental build reaches exactly the from-scratch index (the
    * identity OpsSpec also pins structurally); the probe then runs the
    * standard nprobe=2 in-cell ranking over it. */
  private val annIvfAppendTopK = Q(
    "sim_ann_ivf_append_topk",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e
       |  WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 16),
       |asg AS (
       |  SELECT vec_id, cent_id, ccos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |cand AS (SELECT vec_id, cent_id FROM asg WHERE crk = 1),
       |qry AS (SELECT vec_id, cent_id FROM asg WHERE crk <= 2 AND vec_id < 10),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm) AS cos
       |  FROM qry q JOIN cand c ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
       |    JOIN e qe ON qe.vec_id = q.vec_id JOIN e ce ON ce.vec_id = c.vec_id)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val emb       = embeddings(s, d)
    val first     = emb.filter(col("vec_id") % 2 === 0)
    val delta     = emb.filter(col("vec_id") % 2 === 1)
    val centroids = Similarity.ivfCentroids(first, "vec_id", "embedding", 16)
    val index     = Similarity.ivfIndex(first, "vec_id", "embedding", centroids)
    val appended  = Similarity.ivfAppend(index, delta, centroids, "vec_id", "embedding")
    Similarity
      .ivfTopKFromIndex(
        appended,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = centroids,
        nprobe = 2,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** Shared oracle prefix for the two REFRESH gates: corpus with norms,
    * the frozen first-half coarse quantizer (the [[annIvfAppendTopK]]
    * setup), and ONE Lloyd re-centering step over the whole appended
    * index — the [[annIvfPqSampledTopK]] `dims`/`cent` refine
    * formulation (DECIMAL(38,12) sums, VARCHAR-bridged to DOUBLE,
    * REAL-rounded means, empty cells coalesced to their old
    * embedding). */
  private val ivfRefreshPrefixSql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent0 AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e
       |  WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 16),
       |asg0 AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent0)),
       |members AS (
       |  SELECT a.cent_id, e.embedding
       |  FROM asg0 a JOIN e ON e.vec_id = a.vec_id WHERE a.crk = 1),
       |dims AS (
       |  SELECT cent_id, i.i AS pos,
       |    CAST(CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM members CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT cent_id, cemb, sqrt(${duckDot("cemb", "cemb")}) AS cnrm FROM (
       |    SELECT s.cent_id, coalesce(n.cemb, s.cemb) AS cemb
       |    FROM cent0 s LEFT JOIN (
       |      SELECT cent_id, list(CAST(m AS REAL) ORDER BY pos) AS cemb
       |      FROM dims GROUP BY cent_id) n ON n.cent_id = s.cent_id))""".stripMargin

  /** Shared Spark builder for the two refresh gates: frozen-quantizer
    * build on the even half, delta append of the odd half, then
    * [[Similarity.ivfRefresh]] (one Lloyd re-center + one
    * re-assignment pass over the index contents — never the raw
    * corpus). */
  private def buildRefreshed(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val emb       = embeddings(s, d)
    val first     = emb.filter(col("vec_id") % 2 === 0)
    val delta     = emb.filter(col("vec_id") % 2 === 1)
    val centroids = Similarity.ivfCentroids(first, "vec_id", "embedding", 16)
    val index     = Similarity.ivfIndex(first, "vec_id", "embedding", centroids)
    val appended  = Similarity.ivfAppend(index, delta, centroids, "vec_id", "embedding")
    val (recentered, refreshed) =
      Similarity.ivfRefresh(appended, centroids, "vec_id", "embedding", iters = 1)
    (centroids, recentered, refreshed)
  }

  /** IVF index REFRESH ([[Similarity.ivfRefresh]]) — the missing
    * lifecycle step between [[annIvfAppendTopK]]'s append-only path
    * and a full rebuild: after the odd half arrives as a delta, the
    * coarse quantizer is RE-CENTERED (one Lloyd step over the index
    * contents) and the cells re-assigned in one pass. The oracle
    * rebuilds from scratch with the same re-centered quantizer and
    * ranks the same nprobe=2 probe, so the differential proves
    * refresh ≡ rebuild — the identity that makes periodic refresh a
    * safe substitute for the full rebuild at 100 TB. */
  private val annIvfRefreshTopK = Q(
    "sim_ann_ivf_refresh",
    s"""$ivfRefreshPrefixSql,
       |asg AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |cand AS (SELECT vec_id, cent_id FROM asg WHERE crk = 1),
       |qry AS (SELECT vec_id, cent_id FROM asg WHERE crk <= 2 AND vec_id < 10),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm) AS cos
       |  FROM qry q JOIN cand c ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
       |    JOIN e qe ON qe.vec_id = q.vec_id JOIN e ce ON ce.vec_id = c.vec_id)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val (_, recentered, refreshed) = buildRefreshed(s, d)
    Similarity
      .ivfTopKFromIndex(
        refreshed,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = recentered,
        nprobe = 2,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** The refresh's DRIFT BOUND ([[Similarity.ivfCentroidDrift]]):
    * per-centroid squared L2 movement under re-centering — the
    * staleness alarm an operator pages on (drift past a threshold →
    * schedule the full re-encode). Difference vectors are
    * double-subtracted and rounded once to REAL (the residual-PQ
    * discipline), squared through the shared dot fold, so every drift
    * number is bit-replayed by the oracle. */
  private val annIvfRefreshDrift = Q(
    "sim_ann_ivf_refresh_drift",
    s"""$ivfRefreshPrefixSql
       |SELECT cent_id, ${duckDot("d", "d")} AS drift_sq FROM (
       |  SELECT c0.cent_id,
       |    list_transform(generate_series(1, 64),
       |      i -> CAST(CAST(c0.cemb[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE) AS REAL)) AS d
       |  FROM cent0 c0 JOIN cent c ON c.cent_id = c0.cent_id)""".stripMargin,
  ) { (s, d) =>
    val (centroids, recentered, _) = buildRefreshed(s, d)
    Similarity.ivfCentroidDrift(centroids, recentered).select("cent_id", "drift_sq")
  }

  /** RESIDUAL IVF-PQ (the classic IVFADC layout): candidates are
    * PQ-encoded on x − c(x) against their own coarse centroid; a
    * query's ADC LUT is therefore per probed CELL (its residual
    * differs per centroid). Scoring is L2 ADC ASCENDING — Jégou et
    * al.'s ‖(q−c) − r̂ₓ‖² — the only metric under which residual
    * codes approximate a global quantity comparable across probed
    * cells (a dot LUT would drop the per-candidate dot(c, r_x)
    * term). Residuals are double-subtracted and rounded once to
    * REAL — exactly-rounded IEEE ops both engines share — so the
    * whole pipeline (assignment, residual, int8 quantize, codebook
    * seed, encode, per-cell L2 LUT, ADC ranking) stays
    * bit-replayable; the oracle runs every stage. */
  private val annIvfPqResidualTopK = Q(
    "sim_ann_ivf_pq_residual_topk",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |rres AS (
       |  SELECT a.vec_id, a.cent_id, a.crk,
       |    list_transform(generate_series(1, 64),
       |      i -> CAST(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE) AS REAL)) AS r
       |  FROM asg a
       |  JOIN e ON e.vec_id = a.vec_id
       |  JOIN cent c ON c.cent_id = a.cent_id
       |  WHERE a.crk = 1 OR (a.crk <= 2 AND a.vec_id < 10)),
       |mq AS (
       |  SELECT vec_id, cent_id, crk,
       |    list_transform(r,
       |      v -> CAST(floor(CAST(v AS DOUBLE) * 127
       |                      / (CASE WHEN s = 0 THEN 1 ELSE s END)
       |                      + 0.5) AS BIGINT)) AS q
       |  FROM (SELECT vec_id, cent_id, crk, r,
       |          list_aggregate(list_transform(r,
       |            v -> abs(CAST(v AS DOUBLE))), 'max') AS s
       |        FROM rres)),
       |seeds AS (
       |  SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) - 1 AS code_id
       |  FROM mq WHERE crk = 1
       |    AND vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
       |cb AS (
       |  SELECT sub_id, code_id, q[(sub_id*8+1):(sub_id*8+8)] AS code
       |  FROM seeds, (SELECT unnest(generate_series(0, 7)) AS sub_id)),
       |csubs AS (
       |  SELECT vec_id, cent_id, sub_id, q[(sub_id*8+1):(sub_id*8+8)] AS qsub
       |  FROM mq, (SELECT unnest(generate_series(0, 7)) AS sub_id)
       |  WHERE crk = 1),
       |encpq AS (
       |  SELECT vec_id, cent_id, sub_id, code_id FROM (
       |    SELECT s.vec_id, s.cent_id, s.sub_id, c.code_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
       |        list_reduce(list_transform(generate_series(1, 8),
       |          i -> (s.qsub[i] - c.code[i]) * (s.qsub[i] - c.code[i])), (x, y) -> x + y),
       |        c.code_id) AS rn
       |    FROM csubs s JOIN cb c ON c.sub_id = s.sub_id)
       |  WHERE rn = 1),
       |qsubs AS (
       |  SELECT vec_id AS q_id, cent_id, sub_id, q[(sub_id*8+1):(sub_id*8+8)] AS qsub
       |  FROM mq, (SELECT unnest(generate_series(0, 7)) AS sub_id)
       |  WHERE vec_id < 10 AND crk <= 2),
       |lut AS (
       |  SELECT s.q_id, s.cent_id, s.sub_id, c.code_id,
       |    list_reduce(list_transform(generate_series(1, 8),
       |      i -> (s.qsub[i] - c.code[i]) * (s.qsub[i] - c.code[i])), (x, y) -> x + y) AS pdot
       |  FROM qsubs s JOIN cb c ON c.sub_id = s.sub_id),
       |scored AS (
       |  SELECT l.q_id, p.vec_id AS n_id, CAST(sum(l.pdot) AS BIGINT) AS adc
       |  FROM encpq p
       |  JOIN lut l ON l.cent_id = p.cent_id AND l.sub_id = p.sub_id
       |    AND l.code_id = p.code_id
       |  WHERE p.vec_id <> l.q_id
       |  GROUP BY 1, 2)
       |SELECT q_id, n_id, adc, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity
      .annIvfPqResidualTopK(
        emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        m = 8,
        ksub = 16,
        centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        nprobe = 2,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id", "adc", "rnk")
  }

  /** End-to-end RAG retrieval composition: token-chunk the documents
    * corpus ([[graft.ops.Text.chunkTokens]], 64/16), embed each chunk
    * with a DETERMINISTIC hash embedding (8 dims from the chunk text's
    * md5: 3 hex digits each, centered and scaled by 2¹¹ — every value
    * k/2¹¹ is exact in float, so the "model" is a bit-reproducible
    * stand-in for a real encoder, the multimodal-decoder stubbing
    * discipline applied to text), then exact cosine top-3 for every
    * chunk of the first three documents. The oracle replays chunking,
    * embedding, and ranking end-to-end — the composed pipeline a
    * retrieval index build actually runs, as one differential gate. */
  private val ragChunkTopK = Q(
    "sim_rag_chunk_topk",
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\w+') AS toks FROM documents),
       |s0 AS (SELECT doc_id, toks,
       |         unnest(generate_series(0, greatest(0, ((len(toks) - 64 + 47) // 48) * 48), 48)) AS start
       |       FROM t WHERE len(toks) > 0),
       |ch AS (SELECT doc_id * 10000 + start // 48 AS cid,
       |         md5(list_aggregate(toks[(start+1):(start+64)], 'string_agg', ' ')) AS h
       |       FROM s0),
       |e AS (SELECT cid,
       |        list_transform(generate_series(0, 7),
       |          j -> CAST(CAST((CAST(('0x' || substr(h, j*3 + 1, 3)) AS BIGINT) - 2048) AS DOUBLE)
       |                    / 2048.0 AS REAL)) AS emb
       |      FROM ch),
       |n AS (SELECT cid, emb, sqrt(${duckDot("emb", "emb")}) AS nrm FROM e),
       |pairs AS (
       |  SELECT q.cid AS q_id, c.cid AS n_id,
       |    ${duckDot("q.emb", "c.emb")} / (q.nrm * c.nrm) AS cos
       |  FROM n q JOIN n c ON c.cid <> q.cid
       |  WHERE q.cid < 30000)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val chunks = graft.ops.Text
      .chunkTokens(graft.Tables.documents(s, d), "doc_id", "text", chunkSize = 64, overlap = 16)
      .select((col("doc_id") * 10000L + col("chunk_id")).as("cid"), col("chunk_text"))
    val embedded = chunks
      .withColumn("__h", md5(col("chunk_text")))
      .withColumn(
        "emb",
        transform(
          sequence(lit(0), lit(7)),
          j =>
            ((conv(col("__h").substr(j * 3 + 1, lit(3)), 16, 10).cast("long") - 2048L)
              .cast("double") / 2048.0).cast("float"),
        ),
      )
      .select("cid", "emb")
    Similarity
      .bruteForceTopK(
        queries = embedded.filter(col("cid") < 30000L),
        candidates = embedded,
        idCol = "cid",
        embCol = "emb",
        k = 3,
      )
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** Dominant Gram-matrix eigenvector by integer power iteration
    * ([[graft.ops.Similarity.topEigenvector]]) over the int8-quantized
    * embeddings — the whitening/ABTT principal direction, every step
    * exact (DECIMAL Gram sums, truncating ppm renormalization), so the
    * oracle replays quantization, the one-pass Gram build, and all
    * three unrolled iteration rounds to bit equality. */
  private val pcaPower = Q(
    "sim_pca_power",
    """WITH m AS (
      |  SELECT embedding,
      |    list_aggregate(list_transform(embedding,
      |      v -> abs(CAST(v AS DOUBLE))), 'max') AS q_scale
      |  FROM embeddings),
      |q AS (
      |  SELECT list_transform(embedding,
      |    v -> CAST(floor(CAST(v AS DOUBLE) * 127
      |                    / (CASE WHEN q_scale = 0 THEN 1 ELSE q_scale END)
      |                    + 0.5) AS BIGINT)) AS qe
      |  FROM m),
      |g AS (SELECT i, j, CAST(sum(qe[i+1] * qe[j+1]) AS HUGEINT) AS a
      |      FROM q,
      |        (SELECT unnest(generate_series(0, 7)) AS i),
      |        (SELECT unnest(generate_series(0, 7)) AS j)
      |      GROUP BY 1, 2),
      |w1 AS (SELECT i, sum(a * 1000000) AS w FROM g GROUP BY 1),
      |m1 AS (SELECT greatest(max(abs(w)), 1) AS m FROM w1),
      |v1 AS (SELECT i, (w * 1000000) // m AS v FROM w1, m1),
      |w2 AS (SELECT g.i AS i, sum(g.a * v1.v) AS w FROM g JOIN v1 ON v1.i = g.j GROUP BY 1),
      |m2 AS (SELECT greatest(max(abs(w)), 1) AS m FROM w2),
      |v2 AS (SELECT i, (w * 1000000) // m AS v FROM w2, m2),
      |w3 AS (SELECT g.i AS i, sum(g.a * v2.v) AS w FROM g JOIN v2 ON v2.i = g.j GROUP BY 1),
      |m3 AS (SELECT greatest(max(abs(w)), 1) AS m FROM w3),
      |v3 AS (SELECT i, (w * 1000000) // m AS v FROM w3, m3)
      |SELECT CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS v_ppm FROM v3""".stripMargin,
  ) { (s, d) =>
    val q = Similarity.quantizeInt8(embeddings(s, d), "embedding").select(col("q_emb"))
    Similarity.topEigenvector(q, "q_emb", d = 8, rounds = 3)
  }

  /** Shared CTE prefix of the [[mrrEval]]/[[mapEval]] oracles: the
    * brute-force truth chain (filtered to `bfFilter` ranks) and the
    * 16-cell / nprobe-2 / k=3 IVF ranking under test, ending at `iv`.
    * One definition so a tie-break or index-config change cannot
    * desynchronize the two gates (the [[graft.queries.Events]]
    * `holtSql`-sharing convention applied to a parameterized prefix). */
  private def annEvalChainSql(bfFilter: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |bfp AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
       |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |bf AS (SELECT q_id, n_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM bfp) WHERE $bfFilter),
       |cent AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cent_id, ccos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |cand AS (SELECT vec_id, cent_id FROM asg WHERE crk = 1),
       |qry AS (SELECT vec_id, cent_id FROM asg WHERE crk <= 2 AND vec_id < 10),
       |ivp AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm) AS cos
       |  FROM qry q JOIN cand c ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
       |    JOIN e qe ON qe.vec_id = q.vec_id JOIN e ce ON ce.vec_id = c.vec_id),
       |iv AS (SELECT q_id, n_id, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM ivp) WHERE rnk <= 3)""".stripMargin

  /** MRR retrieval eval ([[graft.ops.Eval.reciprocalRank]]): where did
    * the IVF index rank each query's TRUE nearest neighbor
    * (brute-force rank 1)? The reciprocal-rank twin of
    * `sim_ann_recall_eval` — rank-position-sensitive where recall is
    * set-membership-blind; same index configuration (16 cells,
    * nprobe 2, k = 3), oracle composes the two proven differential
    * chains and replays the rank lookup. */
  private val mrrEval = Q(
    "sim_mrr_eval",
    s"""${annEvalChainSql("rnk = 1")}
       |SELECT b.q_id, b.n_id AS truth_id,
       |  CAST(coalesce(i.rnk, 0) AS BIGINT) AS found_rank,
       |  CAST(CASE WHEN i.rnk IS NULL THEN 0 ELSE 1000000 // i.rnk END AS BIGINT) AS rr_ppm
       |FROM bf b LEFT JOIN iv i ON i.q_id = b.q_id AND i.n_id = b.n_id""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    val truth = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 1)
      .select("q_id", "n_id")
    val ranked = Similarity
      .ivfTopK(
        emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        nprobe = 2,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id", "rnk")
    graft.ops.Eval.reciprocalRank(truth, ranked)
  }

  /** MAP@k of the IVF chain against brute-force top-3 relevance
    * ([[graft.ops.Eval.averagePrecision]]): the multi-relevant upgrade
    * of [[mrrEval]] — truth is the brute-force top-3 SET per query,
    * the system under test the nprobe=2 IVF top-3, and the statistic
    * the exact rational (ap_num, ap_den) with lcm(1..3)=6 scaling (no
    * flooring — P@i denominators all divide 6). The oracle replays
    * both ANN chains and the AP arithmetic. */
  private val mapEval = Q(
    "sim_map_eval",
    s"""${annEvalChainSql("rnk <= 3")},
       |hits AS (
       |  SELECT i.q_id, i.rnk,
       |    row_number() OVER (PARTITION BY i.q_id ORDER BY i.rnk) AS cum
       |  FROM iv i JOIN bf b ON b.q_id = i.q_id AND b.n_id = i.n_id),
       |agg AS (SELECT q_id, count(*) AS hits, sum(cum * (6 // rnk)) AS ap_num
       |        FROM hits GROUP BY 1),
       |rel AS (SELECT q_id, count(*) AS n_rel FROM bf GROUP BY 1)
       |SELECT r.q_id, CAST(r.n_rel AS BIGINT) AS n_rel,
       |  CAST(coalesce(a.hits, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(a.ap_num, 0) AS BIGINT) AS ap_num,
       |  CAST(6 * r.n_rel AS BIGINT) AS ap_den
       |FROM rel r LEFT JOIN agg a ON a.q_id = r.q_id""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    val truth = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 3)
      .select("q_id", "n_id")
    val ranked = Similarity
      .ivfTopK(
        emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        nprobe = 2,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id", "rnk")
    graft.ops.Eval.averagePrecision(truth, ranked, k = 3)
  }

  /** NDCG@3 of the IVF chain against brute-force relevance
    * ([[graft.ops.Eval.ndcgAtK]]): the position-weighted eval beside
    * MRR (first hit) and MAP (precision-weighted) — discounts and
    * ideal-DCG prefix sums come from the pinned integer ladder
    * ⌊10⁹/log₂(i+1)⌋ shared verbatim with the oracle, so the
    * statistic is exact given the table. */
  private val ndcgEval = Q(
    "sim_ndcg_eval", {
      val prefix = graft.ops.Eval.ndcgDiscounts.take(3).scanLeft(0L)(_ + _).tail
      val idcgCase = prefix.zipWithIndex
        .map { case (p, i) => s"WHEN least(n_rel, 3) = ${i + 1} THEN $p" }
        .mkString("CASE ", " ", s" ELSE ${prefix.last} END")
      s"""${annEvalChainSql("rnk <= 3")},
         |hits AS (
         |  SELECT i.q_id, i.rnk FROM iv i JOIN bf b ON b.q_id = i.q_id AND b.n_id = i.n_id),
         |d AS (SELECT q_id, count(*) AS hits,
         |        sum(${graft.ops.Eval.ndcgDiscountSql("rnk", 3)}) AS dcg
         |      FROM hits GROUP BY 1),
         |rel AS (SELECT q_id, count(*) AS n_rel FROM bf GROUP BY 1),
         |j AS (
         |  SELECT r.q_id, r.n_rel, coalesce(d.hits, 0) AS hits, coalesce(d.dcg, 0) AS dcg,
         |    $idcgCase AS idcg
         |  FROM rel r LEFT JOIN d ON d.q_id = r.q_id)
         |SELECT q_id, CAST(n_rel AS BIGINT) AS n_rel, CAST(hits AS BIGINT) AS hits,
         |  CAST(dcg AS BIGINT) AS dcg, CAST(idcg AS BIGINT) AS idcg,
         |  CAST(dcg * 1000000 // idcg AS BIGINT) AS ndcg_ppm
         |FROM j""".stripMargin
    },
  ) { (s, d) =>
    val emb = embeddings(s, d)
    val truth = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 3)
      .select("q_id", "n_id")
    val ranked = Similarity
      .ivfTopK(
        emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        nprobe = 2,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id", "rnk")
    graft.ops.Eval.ndcgAtK(truth, ranked, k = 3)
  }

  /** GRADED NDCG@3 ([[graft.ops.Eval.ndcgGradedAtK]]): the general
    * form behind [[ndcgEval]]'s binary gate — the truth surface grades
    * brute-force rank 1 as 2 (the true nearest neighbor) and ranks 2–3
    * as 1, so gains differ (2²−1 = 3 vs 1) and the ideal ordering is a
    * genuine re-rank of the truth set by grade, not a prefix count.
    * Same pinned discount ladder; gains are exact bit shifts in both
    * engines; IDCG's grade-descending tie order (n_id ascending) is
    * mirrored in the oracle's window. */
  private val ndcgGradedEval = Q(
    "sim_ndcg_graded",
    s"""${annEvalChainSql("rnk <= 3")},
       |bfg AS (SELECT q_id, n_id, CASE WHEN rnk = 1 THEN 2 ELSE 1 END AS grade FROM (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM bfp) WHERE rnk <= 3),
       |hits AS (
       |  SELECT i.q_id, i.rnk, b.grade
       |  FROM iv i JOIN bfg b ON b.q_id = i.q_id AND b.n_id = i.n_id),
       |d AS (SELECT q_id, count(*) AS hits,
       |        sum(CAST((1 << grade) - 1 AS BIGINT) * ${graft.ops.Eval.ndcgDiscountSql("rnk", 3)}) AS dcg
       |      FROM hits GROUP BY 1),
       |ideal AS (SELECT q_id, grade,
       |            row_number() OVER (PARTITION BY q_id ORDER BY grade DESC, n_id) AS irnk
       |          FROM bfg),
       |rel AS (SELECT q_id, count(*) AS n_rel,
       |          sum(CASE WHEN irnk <= 3
       |                THEN CAST((1 << grade) - 1 AS BIGINT) * ${graft.ops.Eval.ndcgDiscountSql("irnk", 3)}
       |                ELSE 0 END) AS idcg
       |        FROM ideal GROUP BY 1)
       |SELECT r.q_id, CAST(r.n_rel AS BIGINT) AS n_rel,
       |  CAST(coalesce(d.hits, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(d.dcg, 0) AS BIGINT) AS dcg, CAST(r.idcg AS BIGINT) AS idcg,
       |  CAST(coalesce(d.dcg, 0) * 1000000 // r.idcg AS BIGINT) AS ndcg_ppm
       |FROM rel r LEFT JOIN d ON d.q_id = r.q_id""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    val truth = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 3)
      .select(
        col("q_id"),
        col("n_id"),
        when(col("rnk") === 1, 2L).otherwise(1L).as("grade"),
      )
    val ranked = Similarity
      .ivfTopK(
        emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        nprobe = 2,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id", "rnk")
    graft.ops.Eval.ndcgGradedAtK(truth, ranked, k = 3)
  }

  /** Matryoshka truncation eval (Kusupati 2022): recall@3 of
    * brute-force retrieval over the FIRST 4 dims against the full
    * 8-dim truth — the measurement that justifies serving truncated
    * embeddings (MRL's whole point: cheap prefix search, full-dim
    * re-rank). Composes two proven brute-force chains through
    * [[graft.ops.Similarity.recallAtK]]; the oracle replays both (the
    * prefix side scores `list_slice(embedding, 1, 4)`). */
  private val matryoshkaRecall = Q(
    "sim_matryoshka_recall",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, list_slice(embedding, 1, 4) AS emb4,
       |    sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |e4 AS (SELECT vec_id, emb4, sqrt(${duckDot("emb4", "emb4")}) AS nrm4 FROM e),
       |tr AS (SELECT q_id, n_id FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
       |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10) WHERE rnk <= 3),
       |ap AS (SELECT q_id, n_id FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${duckDot("q.emb4", "c.emb4")} / (q.nrm4 * c.nrm4) DESC, c.vec_id) AS rnk
       |  FROM e4 q JOIN e4 c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10) WHERE rnk <= 3)
       |SELECT t.q_id, count(*) AS exact_k,
       |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // count(*)
       |       AS BIGINT) AS recall_ppm
       |FROM tr t LEFT JOIN ap a ON a.q_id = t.q_id AND a.n_id = t.n_id
       |GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    val emb  = embeddings(s, d)
    val emb4 = emb.select(col("vec_id"), slice(col("embedding"), 1, 4).as("emb4"))
    val truth = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 3)
      .select("q_id", "n_id")
    val approx = Similarity
      .bruteForceTopK(emb4.filter(col("vec_id") < 10), emb4, "vec_id", "emb4", k = 3)
      .select("q_id", "n_id")
    Similarity.recallAtK(truth, approx, "q_id", "n_id")
  }

  /** Late-interaction MaxSim retrieval
    * ([[graft.ops.Similarity.maxSimTopK]], the ColBERT scoring rule):
    * documents as BAGS of chunk vectors, score = Σ over query chunks
    * of the best-matching candidate-chunk dot product — the
    * multi-vector alternative to `sim_doc_embedding_pool`'s mean
    * pooling, over the same proven chunk/hash-embed chain. Vectors are
    * the RAW integer hash digits (no /2¹¹ scaling): max and sum are
    * exact in ℤ, so the full ranking hash-matches with no float
    * caveat, and the oracle replays chunking, embedding, the per-chunk
    * max, and the summed ranking end-to-end. */
  private val maxSimTopK = Q(
    "sim_maxsim_topk",
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\w+') AS toks FROM documents),
       |s0 AS (SELECT doc_id, toks,
       |         unnest(generate_series(0, greatest(0, ((len(toks) - 64 + 47) // 48) * 48), 48)) AS start
       |       FROM t WHERE len(toks) > 0),
       |ch AS (SELECT doc_id, start // 48 AS chunk_id,
       |         md5(list_aggregate(toks[(start+1):(start+64)], 'string_agg', ' ')) AS h
       |       FROM s0),
       |e AS (SELECT doc_id, chunk_id,
       |        list_transform(generate_series(0, 7),
       |          j -> CAST(('0x' || substr(h, j*3 + 1, 3)) AS BIGINT) - 2048) AS v
       |      FROM ch),
       |pc AS (
       |  SELECT q.doc_id AS q_id, q.chunk_id AS q_chunk, c.doc_id AS n_id,
       |    max(list_reduce(list_transform(generate_series(1, 8),
       |          i -> q.v[i] * c.v[i]), (x, y) -> x + y)) AS best
       |  FROM e q JOIN e c ON c.doc_id <> q.doc_id
       |  WHERE q.doc_id < 3
       |  GROUP BY 1, 2, 3),
       |sc AS (SELECT q_id, n_id, CAST(sum(best) AS BIGINT) AS maxsim FROM pc GROUP BY 1, 2)
       |SELECT q_id, n_id, maxsim, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY maxsim DESC, n_id) AS rnk
       |  FROM sc)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val chunks = graft.ops.Text
      .chunkTokens(graft.Tables.documents(s, d), "doc_id", "text", chunkSize = 64, overlap = 16)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
    val vecs = chunks
      .withColumn("__h", md5(col("chunk_text")))
      .withColumn(
        "v",
        transform(
          sequence(lit(0), lit(7)),
          j => conv(col("__h").substr(j * 3 + 1, lit(3)), 16, 10).cast("long") - 2048L,
        ),
      )
      .select("doc_id", "chunk_id", "v")
    Similarity
      .maxSimTopK(
        queryChunks = vecs.filter(col("doc_id") < 3),
        candChunks = vecs,
        docCol = "doc_id",
        chunkCol = "chunk_id",
        vecCol = "v",
        k = 3,
      )
      .select("q_id", "n_id", "maxsim", "rnk")
  }

  /** Chunk → embed → MEAN-POOL → document-level top-k
    * ([[graft.ops.Similarity.meanPoolEmbeddings]]): the long-document
    * retrieval pipeline, pooled back to one vector per document with
    * DECIMAL-exact dimension means (partitioning-independent), then
    * ranked document-to-document. Extends `sim_rag_chunk_topk`'s
    * proven chunk/hash-embed chain by the pooling stage; the oracle
    * replays the pooling arithmetic (decimal sums cast via VARCHAR —
    * DuckDB's direct decimal→double cast double-rounds past 2^53). */
  private val docEmbeddingPool = Q(
    "sim_doc_embedding_pool",
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\w+') AS toks FROM documents),
       |s0 AS (SELECT doc_id, toks,
       |         unnest(generate_series(0, greatest(0, ((len(toks) - 64 + 47) // 48) * 48), 48)) AS start
       |       FROM t WHERE len(toks) > 0),
       |ch AS (SELECT doc_id,
       |         md5(list_aggregate(toks[(start+1):(start+64)], 'string_agg', ' ')) AS h
       |       FROM s0),
       |e AS (SELECT doc_id,
       |        list_transform(generate_series(0, 7),
       |          j -> CAST(CAST((CAST(('0x' || substr(h, j*3 + 1, 3)) AS BIGINT) - 2048) AS DOUBLE)
       |                    / 2048.0 AS REAL)) AS emb
       |      FROM ch),
       |dims AS (
       |  SELECT doc_id, i.i AS pos,
       |    CAST(CAST(SUM(CAST(CAST(emb[i.i] AS DOUBLE) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM e CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) i
       |  GROUP BY 1, 2),
       |pooled AS (
       |  SELECT doc_id, list(CAST(m AS REAL) ORDER BY pos) AS emb
       |  FROM dims GROUP BY doc_id),
       |n AS (SELECT doc_id, emb, sqrt(${duckDot("emb", "emb")}) AS nrm FROM pooled),
       |pairs AS (
       |  SELECT q.doc_id AS q_id, c.doc_id AS n_id,
       |    ${duckDot("q.emb", "c.emb")} / (q.nrm * c.nrm) AS cos
       |  FROM n q JOIN n c ON c.doc_id <> q.doc_id
       |  WHERE q.doc_id < 3)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val chunks = graft.ops.Text
      .chunkTokens(graft.Tables.documents(s, d), "doc_id", "text", chunkSize = 64, overlap = 16)
      .select(col("doc_id"), col("chunk_text"))
    val embedded = chunks
      .withColumn("__h", md5(col("chunk_text")))
      .withColumn(
        "emb",
        transform(
          sequence(lit(0), lit(7)),
          j =>
            ((conv(col("__h").substr(j * 3 + 1, lit(3)), 16, 10).cast("long") - 2048L)
              .cast("double") / 2048.0).cast("float"),
        ),
      )
      .select("doc_id", "emb")
    val pooled = Similarity.meanPoolEmbeddings(embedded, "doc_id", "emb")
    Similarity
      .bruteForceTopK(
        queries = pooled.filter(col("doc_id") < 3),
        candidates = pooled,
        idCol = "doc_id",
        embCol = "emb",
        k = 3,
      )
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** ANN index-quality evaluation ([[graft.ops.Similarity.recallAtK]]):
    * per-query integer-ppm recall of the IVF index (16 cells,
    * nprobe=2) against brute force at k=3 — the number a probe
    * configuration is accepted or rejected on. The oracle composes
    * the two existing differential chains (exact ranking + the full
    * IVF build) and replays the recall join, so the metric itself —
    * not just its inputs — is hash-checked. */
  private val annRecallEval = Q(
    "sim_ann_recall_eval",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |bfp AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
       |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |bf AS (SELECT q_id, n_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM bfp) WHERE rnk <= 3),
       |cent AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cent_id, ccos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |cand AS (SELECT vec_id, cent_id FROM asg WHERE crk = 1),
       |qry AS (SELECT vec_id, cent_id FROM asg WHERE crk <= 2 AND vec_id < 10),
       |ivp AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${duckDot("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm) AS cos
       |  FROM qry q JOIN cand c ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
       |    JOIN e qe ON qe.vec_id = q.vec_id JOIN e ce ON ce.vec_id = c.vec_id),
       |iv AS (SELECT q_id, n_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM ivp) WHERE rnk <= 3)
       |SELECT b.q_id, count(*) AS exact_k,
       |  CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |       // count(*) AS BIGINT) AS recall_ppm
       |FROM bf b LEFT JOIN iv i ON i.q_id = b.q_id AND i.n_id = b.n_id
       |GROUP BY b.q_id""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    val exact = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 3)
      .select("q_id", "n_id")
    val approx = Similarity
      .ivfTopK(
        emb,
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        nprobe = 2,
        queryPred = col("vec_id") < 10,
      )
      .select("q_id", "n_id")
    Similarity.recallAtK(exact, approx, "q_id", "n_id")
  }

  /** The stored index dir, written once per (session, sfDir):
    * [[Similarity.ivfIndex]] partitioned by `cent_id` — the on-disk
    * layout [[Similarity.ivfTopKFromStoredIndex]]'s probed-cell
    * partition filter prunes against. Scratch-dir lifecycle follows
    * the streaming-suite convention (shutdown-hook cleanup). */
  private val storedIndexDir = Shared("ivf_stored_index") { (s, d) =>
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_index")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      catch { case _: Throwable => () }
    ))
    val emb       = embeddings(s, d)
    val centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
    val out       = dir.resolve("index").toString
    Similarity
      .ivfIndex(emb, "vec_id", "embedding", centroids)
      .write
      .partitionBy("cent_id")
      .parquet(out)
    out
  }

  /** This suite's shared artifacts (none prewarmed). */
  private[graft] def artifacts: Seq[Shared[_]] = Seq(storedIndexDir)

  /** IVF serving over the PERSISTED cent_id-partitioned index
    * ([[Similarity.ivfTopKFromStoredIndex]]): the query batch's probed
    * cell set is pushed into the index read as a partition filter, so
    * the scan touches only those cells' files (PlanSpec pins the
    * pruning; this gate pins result identity — same oracle as
    * `sim_ann_ivf_topk`, which ranks the identical structure built
    * in-memory). */
  private val annIvfStoredTopK = Q(
    "sim_ann_ivf_stored_topk",
    annIvfTopK.oracle.get,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity
      .ivfTopKFromStoredIndex(
        s,
        storedIndexDir(s, d),
        queries = emb.filter(col("vec_id") < 10),
        idCol = "vec_id",
        embCol = "embedding",
        k = 3,
        centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
        nprobe = 2,
      )
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** Shared dataflow of the two centroid-classifier gates: supervised
    * per-label centroids (dimension-wise DECIMAL(38,12) means — the
    * [[Similarity.ivfRefine]] arithmetic, bit-deterministic under any
    * partitioning — cast back to float), then every vector assigned to
    * its max-cosine centroid (|labels| centroids broadcast; ties break
    * on ascending label). Returns (vec_id, label, predicted). */
  private def centroidPredictions(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Similarity.withNorm(embeddings(s, d), "embedding")
    val cents = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("__pos", "__v")))
      .groupBy("label", "__pos")
      .agg((expr("CAST(SUM(CAST(__v AS DECIMAL(38,12))) AS DOUBLE)") / count(lit(1))).as("__m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("__pos"), col("__m")))).as("__ms"))
      .select(
        col("label").as("cent_label"),
        transform(col("__ms"), m => m.getField("__m").cast("float")).as("cemb"),
      )
      .withColumn("cnrm", Similarity.l2Norm(col("cemb")))
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_label").asc)
    e.crossJoin(broadcast(cents))
      .withColumn(
        "ccos",
        Similarity.dot(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm")),
      )
      .withColumn("crk", row_number().over(w))
      .filter(col("crk") === 1)
      .select(col("vec_id"), col("label"), col("cent_label").as("predicted"))
  }

  /** Oracle CTE prefix shared by the two centroid gates (predictions
    * as (vec_id, label, predicted)). */
  private val centroidPredSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding, sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |dims AS (
       |  SELECT label, i.i AS pos,
       |    CAST(CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
       |  GROUP BY 1, 2),
       |centn AS (
       |  SELECT cent_label, cemb, sqrt(${duckDot("cemb", "cemb")}) AS cnrm FROM (
       |    SELECT label AS cent_label, list(CAST(m AS REAL) ORDER BY pos) AS cemb
       |    FROM dims GROUP BY 1)),
       |asg AS (
       |  SELECT vec_id, label, cent_label,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_label) AS crk
       |  FROM (
       |    SELECT e.vec_id, e.label, cent_label,
       |      ${duckDot("e.embedding", "cemb")} / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN centn)),
       |pred AS (SELECT vec_id, label, cent_label AS predicted FROM asg WHERE crk = 1)""".stripMargin

  /** Nearest-centroid confusion matrix ([[graft.ops.Eval.confusion]])
    * over the label-centroid classifier — integer-ppm row shares. */
  private val centroidConfusion = Q(
    "sim_centroid_confusion",
    s"""$centroidPredSql,
       |cm AS (SELECT label, predicted, count(*) AS n FROM pred GROUP BY 1, 2)
       |SELECT label, predicted, n,
       |  CAST((n * 1000000) // sum(n) OVER (PARTITION BY label) AS BIGINT) AS share_ppm
       |FROM cm""".stripMargin,
  ) { (s, d) =>
    graft.ops.Eval.confusion(centroidPredictions(s, d), "label", "predicted")
  }

  /** Per-class precision/recall/F1 report
    * ([[graft.ops.Eval.classReport]]) for the same classifier —
    * the eval artifact a labeling-model gate publishes. */
  private val centroidEval = Q(
    "sim_centroid_eval",
    s"""$centroidPredSql,
       |tp AS (SELECT label AS cls, count(*) AS tp FROM pred WHERE label = predicted GROUP BY 1),
       |lab AS (SELECT label AS cls, count(*) AS n_true FROM pred GROUP BY 1),
       |prd AS (SELECT predicted AS cls, count(*) AS n_pred FROM pred GROUP BY 1),
       |j AS (
       |  SELECT cls, coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred,
       |    coalesce(tp, 0) AS tp
       |  FROM lab FULL OUTER JOIN prd USING (cls) LEFT JOIN tp USING (cls))
       |SELECT cls, n_true, n_pred, tp,
       |  CAST(CASE WHEN n_pred = 0 THEN 0 ELSE (tp * 1000000) // n_pred END AS BIGINT)
       |    AS precision_ppm,
       |  CAST(CASE WHEN n_true = 0 THEN 0 ELSE (tp * 1000000) // n_true END AS BIGINT)
       |    AS recall_ppm,
       |  CAST(CASE WHEN n_true + n_pred = 0 THEN 0
       |       ELSE (2 * tp * 1000000) // (n_true + n_pred) END AS BIGINT) AS f1_ppm
       |FROM j""".stripMargin,
  ) { (s, d) =>
    graft.ops.Eval.classReport(centroidPredictions(s, d), "label", "predicted")
  }

  /** Semi-hard negative mining ([[graft.ops.Similarity.semiHardNegatives]]):
    * per query, the top-3 different-label neighbors strictly below the
    * best same-label cosine — the contrastive-training batch builder.
    * The oracle replays both scans (positive ceiling + windowed
    * negatives); the strict `<` boundary is differential-checkable
    * because both engines fold the dot identically. */
  private val hardNegatives = Q(
    "sim_hard_negatives",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |sc AS (
       |  SELECT q.vec_id AS q_id, q.label AS ql, c.vec_id AS n_id, c.label AS nl,
       |    ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
       |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |pos AS (SELECT q_id, max(cos) AS pos_best FROM sc WHERE nl = ql GROUP BY q_id)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT s.q_id, s.n_id, s.cos,
       |    row_number() OVER (PARTITION BY s.q_id ORDER BY s.cos DESC, s.n_id) AS rnk
       |  FROM sc s LEFT JOIN pos p ON p.q_id = s.q_id
       |  WHERE s.nl <> s.ql AND s.cos < coalesce(p.pos_best, 2.0))
       |WHERE rnk <= 3""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    Similarity.semiHardNegatives(
      queries = emb.filter(col("vec_id") < 10),
      candidates = emb,
      idCol = "vec_id",
      embCol = "embedding",
      labelCol = "label",
      k = 3,
    )
  }

  /** Oracle builder for the MMR gates: three greedy rounds unrolled as
    * CTE stages; round 1 is plain argmax relevance (weighting by a
    * positive λ is monotone), rounds 2–3 argmax the ppm-weighted
    * `λ·rel − (1−λ)·max sim` with the exact double products the Spark
    * side computes. */
  private def mmrOracleSql(lambdaPpm: Long): String = {
    val l = s"$lambdaPpm.0"
    val m = s"${1000000L - lambdaPpm}.0"
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${duckDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < 5),
       |c AS (SELECT * FROM e WHERE vec_id < 100),
       |rel AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.embedding AS ne, c.nrm AS nn,
       |    ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS rel
       |  FROM q JOIN c ON c.vec_id <> q.vec_id),
       |s1 AS (
       |  SELECT q_id, n_id, ne, nn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS r
       |    FROM rel) WHERE r = 1),
       |m2 AS (
       |  SELECT r.q_id, r.n_id, r.ne, r.nn,
       |    $l * r.rel - $m * (${duckDot("r.ne", "s.ne")} / (r.nn * s.nn)) AS mmr
       |  FROM rel r JOIN s1 s ON s.q_id = r.q_id AND r.n_id <> s.n_id),
       |s2 AS (
       |  SELECT q_id, n_id, ne, nn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, n_id) AS r
       |    FROM m2) WHERE r = 1),
       |m3 AS (
       |  SELECT r.q_id, r.n_id,
       |    $l * r.rel - $m * greatest(
       |      ${duckDot("r.ne", "s1.ne")} / (r.nn * s1.nn),
       |      ${duckDot("r.ne", "s2.ne")} / (r.nn * s2.nn)) AS mmr
       |  FROM rel r
       |  JOIN s1 ON s1.q_id = r.q_id
       |  JOIN s2 ON s2.q_id = r.q_id
       |  WHERE r.n_id <> s1.n_id AND r.n_id <> s2.n_id),
       |s3 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, n_id) AS r
       |    FROM m3) WHERE r = 1)
       |SELECT q_id, n_id, 1 AS rnk FROM s1
       |UNION ALL SELECT q_id, n_id, 2 AS rnk FROM s2
       |UNION ALL SELECT q_id, n_id, 3 AS rnk FROM s3""".stripMargin
  }

  private def mmrGate(name: String, lambdaPpm: Long): Q =
    Q(name, mmrOracleSql(lambdaPpm)) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity
        .mmrTopK(
          queries = emb.filter(col("vec_id") < 5),
          candidates = emb.filter(col("vec_id") < 100),
          idCol = "vec_id",
          embCol = "embedding",
          k = 3,
          lambdaPpm = lambdaPpm,
        )
        .select(col("q_id"), col("n_id"), col("rnk"))
    }

  /** MMR diversified top-k ([[graft.ops.Similarity.mmrTopK]]) at the
    * balanced λ = ½ over a bounded rerank pool. */
  private val mmrTopK = mmrGate("sim_mmr_topk", 500000L)

  /** The relevance-leaning λ = ¾ twin — same machinery, different
    * trade; a λ change must show up ONLY in the greedy picks. */
  private val mmrTopKWeighted = mmrGate("sim_mmr_topk_weighted", 750000L)

  /** ROC AUC of "dot with a label-0 probe" as a label-0 detector
    * ([[graft.ops.Eval.rocAuc]]): scores are the exact left-fold dot
    * against the lowest-vec_id label-0 embedding (a deterministic
    * 1-row broadcast), positives are the label-0 rows, and the AUC
    * comes out of the tie-exact doubled-U rank identity — the
    * threshold-free quality number for an embedding-space filter
    * model. The oracle replays probe choice, scores, midranks, and
    * the floored ppm quotient. */
  private val aucEval = Q(
    "sim_auc_eval",
    s"""WITH probe AS (
       |  SELECT embedding AS pe FROM embeddings WHERE label = 0 ORDER BY vec_id LIMIT 1),
       |v AS (
       |  SELECT ${duckDot("embedding", "pe")} AS s, (label = 0) AS is1
       |  FROM embeddings, probe),
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
       |SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n2 AS BIGINT) AS n_neg,
       |  CAST(rs - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u_x2,
       |  CAST((rs - CAST(n1 AS HUGEINT) * (n1 + 1)) * 1000000
       |    // (2 * CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS auc_ppm
       |FROM a""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    val probe = emb
      .filter(col("label") === 0)
      .orderBy(col("vec_id"))
      .limit(1)
      .select(col("embedding").as("__pe"))
    val scored = emb
      .crossJoin(broadcast(probe))
      .select(
        graft.functions.FloatVecDot.float_dot(col("embedding"), col("__pe")).as("__s"),
        (col("label") === 0).as("__is1"),
      )
    graft.ops.Eval.rocAuc(scored, col("__s"), col("__is1"))
  }

  val all: Seq[Q] =
    Seq(norms, cosineTopK, annSrpTopK, annIvfTopK, annIvfFilteredTopK, annIvfFilteredSweep, annIvfRefinedTopK, quantizeInt8, annInt8TopK,
      annRerankTopK, annIvfInt8TopK, annPqTopK, annIvfPqTopK, annIvfPqTrainedTopK,
      annIvfPqSampledTopK, annIvfAppendTopK, annIvfRefreshTopK, annIvfRefreshDrift,
      annIvfPqResidualTopK, ragChunkTopK, docEmbeddingPool, annRecallEval,
      annBatchedTopK, annIvfStoredTopK, centroidConfusion, centroidEval, hardNegatives, mmrTopK,
      mmrTopKWeighted, maxSimTopK, pcaPower, mrrEval, mapEval, ndcgEval, ndcgGradedEval,
      matryoshkaRecall, aucEval)
}
