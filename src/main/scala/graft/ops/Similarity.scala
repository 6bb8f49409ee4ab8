package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity-search operators: deterministic cosine scoring
  * and brute-force top-k (the exactness baseline ANN variants are
  * measured against).
  *
  * The dot product is a strict left-to-right fold (`aggregate` over
  * `zip_with`) in double precision, which makes the score bit-identical
  * across engines that fold in order — the property the differential
  * oracle relies on. IEEE sqrt/division are correctly rounded, so the
  * full cosine is deterministic too.
  *
  * Scale notes: brute-force top-k broadcasts the (small) query set and
  * keeps candidates partitioned — the per-partition cross product never
  * shuffles the big side, and the final top-k is a per-query window over
  * q×N scored rows. For q×N beyond that, bucket candidates first (LSH by
  * random hyperplane signs, or IVF by coarse centroid assignment) and
  * score only within buckets.
  */
object Similarity {

  /** Native codegen'd dot product ([[graft.functions.FloatVecDot]]) —
    * bit-identical to the left-to-right double fold of the element
    * products (OpsSpec), ~interpreter-free. This is the form every
    * operator here uses. */
  def dot(a: Column, b: Column): Column = graft.functions.FloatVecDot.float_dot(a, b)

  /** NaN-proof cosine: NULL when either norm is zero instead of the
    * 0/0 = NaN that IEEE division produces. Spark RANKS NaN above
    * every real double and evaluates `NaN >= τ` as TRUE, so an
    * unguarded zero-norm embedding (an empty doc, an OOV row) would be
    * promoted to the rank-1 neighbor of every query and reported as a
    * near-duplicate of anything it shares a bucket with. NULL has the
    * opposite, correct behavior everywhere: `.desc` orders nulls last,
    * `null >= τ` filters false, and the top-k paths drop null scores
    * explicitly. Identity for healthy vectors, so every oracle is
    * unchanged. */
  def cosSafe(d: Column, na: Column, nb: Column): Column =
    when(na > lit(0d) && nb > lit(0d), d / (na * nb))

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Add a precomputed `nrm` column (norms are reused across every pair
    * a row participates in — never recompute them inside the join). */
  def withNorm(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("nrm", l2Norm(col(embCol)))

  /** Symmetric int8 scalar quantization of an embedding column — the
    * 4× memory cut that makes a 100 TB vector corpus cache-resident for
    * ANN scoring. Per vector: scale = max|x_i| (widened to double —
    * exact), q_i = floor(x_i·127/scale + 0.5). Every step is an
    * exactly-rounded IEEE op or an exact integer, so quantized codes
    * are bit-reproducible across engines (no libm, no RNG). All-zero
    * vectors quantize to all zeros (guarded divisor; scale reported
    * as 0). Map-only: one scan, no shuffle, no state.
    *
    * Output adds `q_emb` (array<bigint> in [-127, 127]), `q_scale`
    * (the max-abs, i.e. the dequantization step ×1/127), and `n_sat`
    * (saturated |q| = 127 element count — the quantization-health
    * signal worth monitoring in a pipeline).
    */
  def quantizeInt8(df: DataFrame, embCol: String): DataFrame = {
    val x      = col(embCol)
    val maxabs = array_max(transform(x, v => abs(v.cast("double"))))
    val denom  = when(col("q_scale") === 0d, lit(1d)).otherwise(col("q_scale"))
    df.withColumn("q_scale", maxabs)
      .withColumn("q_emb", transform(x, v => floor(v.cast("double") * 127d / denom + 0.5d)))
      .withColumn("n_sat", size(filter(col("q_emb"), q => abs(q) === 127L)))
  }

  /** Brute-force top-k by QUANTIZED dot product: both sides
    * int8-quantized ([[quantizeInt8]]) and scored with an integer dot —
    * the memory-bound scoring kernel of a quantized ANN system (the
    * codes are 4× smaller than floats, so 4× more corpus fits the
    * scan cache), and — because the arithmetic is all-integer — the one
    * ANN scoring path whose complete ranking is bit-checkable against
    * any engine with no floating-point caveat at all. The raw
    * inner-product ranking is scale-free (it drops the per-vector
    * dequantization scales, the standard symmetric-ADC trade); ties
    * break on candidate id. Query side broadcast, candidates stay
    * partitioned, per-query WindowGroupLimit top-k.
    */
  def bruteForceTopKInt8(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
  ): DataFrame = {
    val q = quantizeInt8(queries, embCol)
      .select(col(idCol).as("q_id"), col("q_emb").as("__qq"))
    val c = quantizeInt8(candidates, embCol)
      .select(col(idCol).as("n_id"), col("q_emb").as("__nq"))
    val score = aggregate(
      zip_with(col("__qq"), col("__nq"), (a, b) => a * b),
      lit(0L),
      (acc, v) => acc + v,
    )
    val w = Window.partitionBy("q_id").orderBy(col("qdot").desc, col("n_id"))
    c.join(broadcast(q), col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), score.as("qdot"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Dominant eigenvector of the (uncentered) Gram matrix Σ xxᵀ over
    * integer vectors, by fixed-round power iteration — the top
    * principal direction used for embedding whitening / ABTT
    * ("all-but-the-top") postprocessing and as the split axis of
    * spill-tree/PCA-tree ANN partitioners. All arithmetic is integer:
    * Gram entries are exact Σ xᵢxⱼ sums (accumulated through
    * DECIMAL(38,0) — at corpus scale Σ|xᵢxⱼ| passes 2⁶³), and each
    * iterate renormalizes to ppm units by truncating division
    * (max-|component| = 10⁶), which Spark `div`, DuckDB `//`, and
    * BigInt `/` all implement identically (toward zero) — so the whole
    * trajectory replays bit-for-bit in any engine.
    *
    * Scale shape: the corpus-proportional work is ONE map-side pass —
    * each row explodes to its d² outer-product terms and partial
    * aggregation reduces them locally, so the shuffle is d² rows per
    * task regardless of corpus size. The iteration itself runs on the
    * driver over the d×d broadcastable Gram (the count-probe
    * precedent: d² is a constant, 64 numbers here — never
    * data-proportional).
    *
    * @param df     rows with an ArrayType integer vector column.
    * @param vecCol the vector column (length d).
    * @param d      dimensionality (compile-time constant of the
    *               pipeline, not inferred — a ragged corpus should
    *               fail loudly upstream).
    * @param rounds power-iteration rounds (fixed, so the oracle can
    *               unroll them; 3 suffices for a dominant gap).
    * @return d rows (dim, v_ppm): the iterate after `rounds` rounds,
    *         components in [−10⁶, 10⁶], max |component| = 10⁶. */
  def topEigenvector(df: DataFrame, vecCol: String, d: Int, rounds: Int): DataFrame = {
    require(d >= 1, s"d must be >= 1, got $d")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val pairs = df
      .select(
        explode(
          expr(
            s"""flatten(transform(sequence(0, ${d - 1}), i ->
               |  transform(sequence(0, ${d - 1}), j ->
               |    struct(i AS i, j AS j, $vecCol[i] * $vecCol[j] AS p))))""".stripMargin
          )
        ).as("e")
      )
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.p").as("p"))
    val gram = pairs
      .groupBy("i", "j")
      .agg(sum(col("p").cast("decimal(38,0)")).as("a"))
      .collect()
    val A = Array.fill(d, d)(BigInt(0))
    gram.foreach { r =>
      val a = r.getAs[java.math.BigDecimal]("a")
      if (a != null) A(r.getAs[Int]("i"))(r.getAs[Int]("j")) = BigInt(a.toBigInteger)
    }
    var v = Array.fill(d)(BigInt(1000000))
    for (_ <- 1 to rounds) {
      val w  = Array.tabulate(d)(i => (0 until d).map(j => A(i)(j) * v(j)).sum)
      val m0 = w.map(_.abs).max
      val m  = if (m0 == 0) BigInt(1) else m0
      v = w.map(x => (x * 1000000) / m) // BigInt / truncates toward zero — div/'//' parity
    }
    import df.sparkSession.implicits._
    v.zipWithIndex.map { case (x, i) => (i.toLong, x.toLong) }.toSeq.toDF("dim", "v_ppm")
  }

  /** Late-interaction (MaxSim) multi-vector retrieval — the ColBERT
    * scoring rule (Khattab & Zaharia 2020): documents and queries are
    * BAGS of chunk/token vectors, and
    * score(Q, D) = Σ_{q ∈ Q} max_{d ∈ D} ⟨q, d⟩ — each query vector
    * finds its best-matching document vector independently, which is
    * what makes late interaction beat single-vector pooling on
    * fine-grained relevance. Over INTEGER vectors the whole statistic
    * is exact (max and the bounded per-pair sum are order-independent
    * in ℤ), so the complete ranking is bit-checkable — the same
    * no-float-caveat property as [[bruteForceTopKInt8]].
    *
    * Scale posture: the query side (all chunks of the query docs) is
    * bounded by contract and broadcast; the corpus chunk table is
    * scanned once, map-side scored against every query chunk, then
    * reduced by two partially-aggregable keyed steps — max per
    * (query doc, query chunk, candidate doc), sum per (query doc,
    * candidate doc). Nothing bigger than |Q-chunks|·|docs| ever
    * shuffles, and the per-query top-k is a WindowGroupLimit.
    *
    * @param queryChunks (docCol, chunkCol, vecCol) — multi-vector
    *                    query side, broadcast (bounded by contract).
    * @param candChunks  (docCol, vecCol) — the corpus chunk table.
    * @param vecCol      ArrayType(LongType) integer vectors, equal
    *                    length both sides.
    * @return (q_id, n_id, maxsim, rnk), top-k candidate docs per query
    *         doc by (maxsim DESC, n_id); self-matches excluded. */
  def maxSimTopK(
      queryChunks: DataFrame,
      candChunks: DataFrame,
      docCol: String,
      chunkCol: String,
      vecCol: String,
      k: Int,
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = queryChunks
      .select(col(docCol).as("q_doc"), col(chunkCol).as("q_chunk"), col(vecCol).as("__qv"))
    val c = candChunks.select(col(docCol).as("n_doc"), col(vecCol).as("__cv"))
    val dotE = aggregate(
      zip_with(col("__qv"), col("__cv"), (a, b) => a * b),
      lit(0L),
      (acc, v) => acc + v,
    )
    val perChunk = c
      .join(broadcast(q), col("n_doc") =!= col("q_doc"))
      .select(col("q_doc"), col("q_chunk"), col("n_doc"), dotE.as("__dot"))
      .groupBy("q_doc", "q_chunk", "n_doc")
      .agg(max(col("__dot")).as("__best"))
    val scored = perChunk
      .groupBy("q_doc", "n_doc")
      .agg(sum(col("__best")).as("maxsim"))
    val w = Window.partitionBy("q_id").orderBy(col("maxsim").desc, col("n_id"))
    scored
      .select(col("q_doc").as("q_id"), col("n_doc").as("n_id"), col("maxsim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Two-stage retrieve-then-rerank top-k — the production ANN shape:
    * a cheap quantized first stage over-fetches `k × mult` candidates
    * per query by integer dot ([[bruteForceTopKInt8]] — 4× smaller
    * codes, all-integer scoring), then only those candidates are
    * re-scored with the exact float inner product and cut to `k`.
    * Final ties break on candidate id. The precision loss of
    * quantization is confined to the CUT of stage 1 (what makes it
    * into the rerank pool), never the final ranking — the standard
    * accuracy/cost trade of IVF/PQ systems, here in its simplest
    * bit-checkable form.
    *
    * Scale posture: stage 1 scans the corpus in quantized form (the
    * memory-bound pass); stage 2 touches `k·mult` rows per query — the
    * float embeddings are fetched by an equi-join on candidate id,
    * candidate-proportional, never a second corpus scan. Query side is
    * broadcast in both stages. */
  def annRerankTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      mult: Int = 3,
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(mult >= 1, s"mult must be >= 1, got $mult")
    val pool = bruteForceTopKInt8(queries, candidates, idCol, embCol, k * mult)
      .select(col("q_id"), col("n_id"))
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("__qe"))
    val c = candidates.select(col(idCol).as("n_id"), col(embCol).as("__ne"))
    val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("n_id"))
    pool
      .join(c, "n_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("n_id"), dot(col("__qe"), col("__ne")).as("dot"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param queries    small query side: (idCol, embCol) — broadcast
    * @param candidates large candidate side: (idCol, embCol)
    */
  def bruteForceTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
  ): DataFrame = {
    val q = withNorm(queries, embCol)
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"), col("nrm").as("q_nrm"))
    val c = withNorm(candidates, embCol)
      .select(col(idCol).as("n_id"), col(embCol).as("n_emb"), col("nrm").as("n_nrm"))
    val scored = c
      .join(broadcast(q), col("n_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("n_id"),
        cosSafe(dot(col("q_emb"), col("n_emb")), col("q_nrm"), col("n_nrm")).as("cos"),
      )
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored
      .filter(col("cos").isNotNull) // zero-norm rows never rank
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** [[graft.functions.FloatVecDot]]'s arithmetic on plain arrays —
    * sequential double accumulation in index order, so [[batchedTopK]]
    * scores bit-identically to the expression path. */
  private def dotArr(a: Array[Float], b: Array[Float]): Double = {
    val n   = math.min(a.length, b.length)
    var acc = 0.0
    var i   = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Batched exact top-k re-rank (the "GPU-style" kernel shape, r9
    * backlog (d)): instead of a broadcast join materializing one ROW
    * per (query, candidate) pair for the codegen'd dot, the query
    * batch rides once per partition as primitive arrays and a
    * `mapPartitions` loop scores every candidate against all queries
    * into per-query bounded k-heaps — |Q|·|C| dot products with ZERO
    * pair rows materialized, the memory-traffic shape a batched BLAS
    * or GPU kernel wants (swap the inner loop for a GEMM and nothing
    * else changes). Emits ≤ |Q|·k rows per partition; one final
    * window over that |Q|·k·partitions pool gives the exact global
    * top-k. Same contract as [[bruteForceTopK]] (query side small and
    * bounded — here collected to a broadcast, the codebook precedent;
    * zero-norm vectors never rank on either side) and bit-identical
    * scores (the heap's (cos desc, id asc) eviction mirrors the rank
    * order; [[dotArr]] mirrors the expression arithmetic), so the two
    * forms share one oracle. */
  def batchedTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = queries.sparkSession
    import spark.implicits._
    val qPrep = queries
      .select(col(idCol).cast("long"), col(embCol))
      .as[(Long, Array[Float])]
      .collect()
      .map { case (id, e) => (id, e, math.sqrt(dotArr(e, e))) }
      .filter(_._3 > 0.0)
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(qPrep)
    val pools = candidates
      .select(col(idCol).cast("long"), col(embCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        // worst-first heap: head = lowest cos, ties broken to evict
        // the LARGER id (rank order is cos desc, id asc)
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
            Ordering.by { case (c, id) => (-c, id) }
          )
        )
        it.foreach { case (nId, emb) =>
          val nn = math.sqrt(dotArr(emb, emb))
          if (nn > 0.0) {
            var qi = 0
            while (qi < qs.length) {
              val (qId, qe, qn) = qs(qi)
              if (qId != nId) {
                val cos = dotArr(qe, emb) / (qn * nn)
                val h   = heaps(qi)
                if (h.size < k) h.enqueue((cos, nId))
                else {
                  val (wc, wi) = h.head
                  if (cos > wc || (cos == wc && nId < wi)) {
                    h.dequeue(); h.enqueue((cos, nId))
                  }
                }
              }
              qi += 1
            }
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          val qId = qs(qi)._1
          h.iterator.map { case (cos, nId) => (qId, nId, cos) }
        }
      }
      .toDF("q_id", "n_id", "cos")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pools.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Recall@k of an approximate neighbor table against the exact one —
    * the index-quality evaluation every ANN deployment runs before
    * trusting a probe configuration (Faiss's `eval` loop as a
    * relational op). Input tables are (qCol, nCol) neighbor lists
    * (e.g. [[ivfTopK]] vs [[bruteForceTopK]] over the same queries);
    * output is one row per query: `exact_k` (the denominator — the
    * exact list's size, which can fall below k on tiny corpora) and
    * integer-ppm `recall_ppm`. Scale shape: one equi-join on
    * (query, neighbor) + one aggregation over |queries|·k rows —
    * evaluation cost is proportional to the QUERY sample, never the
    * corpus. Integer ppm keeps it engine-exact. */
  def recallAtK(
      exact: DataFrame,
      approx: DataFrame,
      qCol: String,
      nCol: String,
  ): DataFrame =
    exact
      .select(col(qCol), col(nCol))
      .join(
        approx.select(col(qCol), col(nCol)).withColumn("__hit", lit(1L)),
        Seq(qCol, nCol),
        "left",
      )
      .groupBy(col(qCol))
      .agg(
        count(lit(1)).as("exact_k"),
        sum(coalesce(col("__hit"), lit(0L))).as("__hits"),
      )
      .select(col(qCol), col("exact_k"), expr("(__hits * 1000000L) div exact_k").as("recall_ppm"))

  /** IVF-SQ8 approximate top-k — the production ANN composition
    * (Faiss's IVF + scalar-quantizer shape): candidates live in their
    * nearest cell, queries probe `nprobe` cells, and scoring inside
    * the probed cells is the all-integer quantized dot
    * ([[quantizeInt8]]/[[bruteForceTopKInt8]]'s kernel) instead of the
    * float cosine — the 4× memory cut where it matters (the cell scan)
    * with the coarse quantizer bounding how much corpus is ever
    * touched (~nprobe/C). Assignment stays float (it reads only the
    * broadcast codebook); ranking is scale-free integer, so the cut
    * is bit-checkable across engines with no float tolerance. */
  def annIvfInt8TopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      centroids: DataFrame,
      nprobe: Int,
      queryPred: Column,
  ): DataFrame = {
    val base = withNorm(df, embCol)
    val cand = quantizeInt8(ivfAssign(base, centroids, idCol, embCol, nprobe = 1), embCol)
      .select(col(idCol).as("n_id"), col("q_emb").as("__nq"), col("cent_id"))
    val qry = quantizeInt8(ivfAssign(base.filter(queryPred), centroids, idCol, embCol, nprobe), embCol)
      .select(col(idCol).as("q_id"), col("q_emb").as("__qq"), col("cent_id"))
    val score = aggregate(
      zip_with(col("__qq"), col("__nq"), (a, b) => a * b),
      lit(0L),
      (acc, v) => acc + v,
    )
    val w = Window.partitionBy("q_id").orderBy(col("qdot").desc, col("n_id"))
    cand
      .join(broadcast(qry), Seq("cent_id"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), score.as("qdot"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Signed-random-projection (SRP) LSH bucket per vector: `nPlanes`
    * Rademacher hyperplanes with entries derived deterministically from
    * md5(plane ':' dim) — reproducible in any engine, no RNG state.
    * Bucket id packs the sign bits of the plane dot products.
    *
    * The plane entries are data-independent, so they are materialized
    * once driver-side (same md5 formula the relational oracle runs)
    * and the per-row work is `nPlanes` codegen'd float_dot calls in
    * one projection — no runtime hashing, no explode/groupBy shuffle.
    *
    * `dim <= 0` (the default) infers the plane dimension from the data;
    * an explicit `dim` is validated against it and a mismatch fails
    * fast (see [[resolveDim]]).
    *
    * This is the ANN scale path: scoring happens only within buckets, so
    * the q×N cross product becomes q×(N / 2^nPlanes) expected. */
  def srpBuckets(
      df: DataFrame,
      idCol: String,
      embCol: String,
      nPlanes: Int,
      dim: Int = 0,
  ): DataFrame = {
    // 1L << p wraps at p >= 64 (JVM shifts are mod 64): planes past 63
    // would silently alias earlier bits and collapse the bucket split
    require(nPlanes >= 1 && nPlanes <= 63, s"srpBuckets supports 1..63 planes, got $nPlanes")
    val planes  = srpPlaneLiterals(nPlanes, resolveDim(df, embCol, dim))
    val bucket = (0 until nPlanes)
      .map(p =>
        when(graft.functions.FloatVecDot.float_dot(col(embCol), planes(p)) >= 0, lit(1L << p))
          .otherwise(lit(0L))
      )
      .reduce(_ + _)
    df.select(col(idCol), bucket.as("bucket"))
  }

  /** Resolve the SRP plane dimension against the data. `dim <= 0`
    * infers it from one row (a LIMIT-1 probe — the same bounded
    * driver-scalar pattern as the staging watermark); an explicit `dim`
    * is validated against the same probe, and a mismatch fails fast
    * instead of silently projecting a prefix of every vector (the
    * footgun the old contract documented). One-row probe ⇒ uniform
    * vector length is still the caller's contract; an empty input with
    * an explicit `dim` passes (nothing to contradict), an empty input
    * with `dim <= 0` cannot infer and throws. */
  private def resolveDim(df: DataFrame, embCol: String, dim: Int): Int = {
    // null embeddings are skipped by the probe — a null first row must
    // not NPE the inference, and a null vector can't define the dim
    val probe = df
      .filter(col(embCol).isNotNull)
      .select(size(col(embCol)).cast("int").as("n"))
      .head(1)
      .headOption
      .map(_.getInt(0))
    (dim, probe) match {
      case (d, Some(p)) if d > 0 && d != p =>
        throw new IllegalArgumentException(
          s"dim=$d does not match the length $p of '$embCol' — an undersized dim silently " +
            s"projects a prefix of each vector; pass dim=$p or dim <= 0 to infer"
        )
      case (d, _) if d > 0 => d
      case (_, Some(p))    => p
      case _ =>
        throw new IllegalArgumentException(
          s"cannot infer dim from an empty input — pass dim explicitly"
        )
    }
  }

  /** The ±1 plane matrix as `array<float>` literal columns — entry
    * (p, i) = +1 iff the first md5("p:i") nibble ≥ 8 (1-based dim
    * index i), the exact expression the relational oracle evaluates:
    * `CASE WHEN ascii(substr(md5(p || ':' || i), 1, 1)) >= 56
    *  THEN 1.0 ELSE -1.0 END`. */
  private def srpPlaneLiterals(nPlanes: Int, dim: Int): IndexedSeq[Column] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def signOf(p: Int, i: Int): Float = {
      val hex = md.digest(s"$p:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (hex.head.toInt >= 56) 1.0f else -1.0f
    }
    (0 until nPlanes).map(p => lit((1 to dim).map(i => signOf(p, i)).toArray))
  }

  /** Banded SRP signature: `nPlanes` plane sign bits split into `bands`
    * bands of `nPlanes / bands` bits each; output one (id, band, key)
    * row per band. Two vectors collide when ANY band key matches, so
    * recall grows with `bands` while candidate volume stays ∝ corpus ×
    * collision rate — the cosine analog of MinHash banding.
    *
    * The whole signature is a single projection followed by
    * `posexplode`: zero shuffle — signatures parallelize with the
    * scan, and only the (band, key)-keyed candidate join exchanges
    * data. `dim` sizes the plane literals: `dim <= 0` (default) infers
    * it from the data, an explicit value is validated against it
    * ([[resolveDim]]; uniform-dimension corpora, the normal case). */
  def srpBandKeys(
      df: DataFrame,
      idCol: String,
      embCol: String,
      nPlanes: Int,
      bands: Int,
      dim: Int = 0,
  ): DataFrame = {
    require(nPlanes % bands == 0, s"nPlanes ($nPlanes) must divide into bands ($bands)")
    val r = nPlanes / bands
    // Precomputed ±1 planes as array<float> literals: each plane dot is
    // one codegen'd float_dot call (±1.0f casts to ±1.0 double exactly,
    // so the left-fold arithmetic is bit-identical to evaluating the
    // oracle's sign expression per element). nPlanes × dim multiply-adds
    // per row, zero runtime hashing, zero shuffle.
    val planes = srpPlaneLiterals(nPlanes, resolveDim(df, embCol, dim))
    val emb = col(embCol)
    val planeDot = (p: Int) => graft.functions.FloatVecDot.float_dot(emb, planes(p))
    // key of band b = sign bits of planes [b*r, (b+1)*r) packed little-endian
    val bandKey = (b: Int) =>
      (0 until r)
        .map(j => when(planeDot(b * r + j) >= 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
    df.select(
      col(idCol),
      posexplode(array((0 until bands).map(bandKey): _*)).as(Seq("band", "key")),
    )
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b), a < b, with
    * cosine ≥ `tau` among SRP band-collision candidates — the
    * embedding-space member of the [[graft.ops.Dedup]] family.
    *
    * Dataflow: map-only banded signatures ([[srpBandKeys]]) → candidate
    * pairs keyed on (band, key) — a hash join on the collision key,
    * never an all-pairs product — → `distinct` → exact cosine verify
    * proportional to the candidate count. Collision probability per
    * plane is 1 − θ/π, so for the near-dup regime (τ ≥ 0.9, θ ≤ 26°)
    * the default 6-bit × 12-band config detects a true pair with
    * p ≥ 0.99; random pairs collide per band at ~2⁻⁶, keeping the
    * verify step ∝ corpus, not corpus². */
  /** `probes = 0` joins on exact band-key equality. `probes = 1` adds
    * multi-probe: one side also enumerates every single-bit flip of
    * each band key, so candidates include pairs whose keys differ in
    * ≤ 1 bit in some band. Per-band detection rises from p^r to
    * p^r + r·p^(r-1)(1−p) — for the hard low-τ regime (τ = 0.45,
    * r = 6, 12 bands) recall jumps ~0.71 → ~0.99 — while candidate
    * volume grows only (r+1)×, still ∝ corpus × collision rate. */
  def embeddingDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      tau: Double,
      nPlanes: Int = 72,
      bands: Int = 12,
      dim: Int = 0,
      probes: Int = 0,
  ): DataFrame = {
    require(probes == 0 || probes == 1, "probes must be 0 (exact) or 1 (single-bit flips)")
    val r = nPlanes / bands
    // The signature table feeds both sides of the candidate self-join;
    // localCheckpoint materializes it once (nPlanes dots per row) so the
    // probe and exact sides read cached partitions instead of
    // recomputing the projection.
    val keys = srpBandKeys(df, idCol, embCol, nPlanes, bands, dim).localCheckpoint(eager = false)
    val probeSide =
      if (probes == 0) keys.select(col(idCol).as("a_id"), col("band"), col("key"))
      else {
        val variants = array(
          lit(0L) +: (0 until r).map(j => lit(1L << j)): _*
        )
        keys.select(
          col(idCol).as("a_id"),
          col("band"),
          explode(transform(variants, m => col("key").bitwiseXOR(m))).as("key"),
        )
      }
    val cand = probeSide
      .join(
        keys.select(col(idCol).as("b_id"), col("band"), col("key")),
        Seq("band", "key"),
      )
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val e = withNorm(df, embCol)
    cand
      .join(
        e.select(col(idCol).as("a_id"), col(embCol).as("__ea"), col("nrm").as("__na")),
        "a_id",
      )
      .join(
        e.select(col(idCol).as("b_id"), col(embCol).as("__eb"), col("nrm").as("__nb")),
        "b_id",
      )
      .withColumn("cos", cosSafe(dot(col("__ea"), col("__eb")), col("__na"), col("__nb")))
      .filter(col("cos") >= tau)
      .select("a_id", "b_id", "cos")
  }

  /** k-NN GRAPH over the embedding corpus — per node, its (up to) k
    * nearest neighbors by exact cosine among SRP band-collision
    * candidates at cosine ≥ `tau`, with a `mutual` flag (is the edge
    * reciprocated in the neighbor's own top-k?). This is the
    * clustering primitive under SemDeDup-style semantic dedup,
    * graph-based diversity sampling, and local-manifold diagnostics.
    * 100 TB posture: candidates come from the banded collision join
    * ([[embeddingDupPairs]] — never all-pairs); the rank window is
    * per-node over collision-bounded candidate lists (partitioned by
    * src, NOT global); symmetrization + the mutual flag are
    * self-joins of the ≤ k·N edge table. τ > 0 keeps each node's
    * candidate list near-dup-bounded rather than collision-bounded.
    * Output: `(src, dst, cos, rnk, mutual)`, rnk 1..k by (cos desc,
    * dst asc). */
  def knnGraph(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      tau: Double,
      nPlanes: Int = 72,
      bands: Int = 12,
      dim: Int = 0,
      probes: Int = 0,
  ): DataFrame =
    knnGraphFromPairs(embeddingDupPairs(df, idCol, embCol, tau, nPlanes, bands, dim, probes), k)

  /** [[knnGraph]] over a PREBUILT verified pair table `(a_id, b_id,
    * cos)` — the entry point for pipelines that materialize the
    * near-dup pair list once per corpus and fan the graph/cluster/
    * cohesion consumers off the one table (the shared-artifact
    * discipline; r16 optimization round, guide §2.4). Dataflow and
    * results identical to [[knnGraph]] given equal pairs. */
  def knnGraphFromPairs(pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val directed = pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"), col("cos"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst"), col("cos")))
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    val ranked = directed
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .localCheckpoint(eager = false) // consumed twice (edges + reversed probe)
    val rev = ranked.select(col("dst").as("src"), col("src").as("dst"), lit(true).as("__m"))
    ranked
      .join(rev, Seq("src", "dst"), "left")
      .select(
        col("src"),
        col("dst"),
        col("cos"),
        col("rnk"),
        coalesce(col("__m"), lit(false)).as("mutual"),
      )
  }

  /** Mutual-k-NN clusters over a PREBUILT verified pair table (the
    * [[knnGraphFromPairs]] discipline): connected components of the
    * RECIPROCATED k-NN edges — the standard "semantic cluster"
    * definition (mutuality prunes hub nodes that would chain unrelated
    * regions through one popular neighbor). Components run the
    * large-star/small-star O(log² n) loop ([[Dedup.clusterPairs]]).
    * Output: `(id, component)` for every node on a mutual edge
    * (isolated nodes are their own trivial clusters — excluded,
    * matching [[Dedup.clusterPairs]]). */
  def mutualKnnClustersFromPairs(pairs: DataFrame, k: Int): DataFrame = {
    val mutualEdges = knnGraphFromPairs(pairs, k)
      .filter(col("mutual") && col("src") < col("dst"))
      .select(col("src").as("a_id"), col("dst").as("b_id"))
    Dedup.clusterPairs(mutualEdges)
  }

  /** Cluster-cohesion report over the mutual-k-NN components of a
    * PREBUILT verified pair table (the [[knnGraphFromPairs]]
    * discipline; `df` still supplies the embeddings for the
    * within-component cosine pairs) — the
    * SemDeDup quality artifact: per semantic cluster, its size and the
    * MEAN PAIRWISE COSINE among members (how tight is the cluster the
    * dedup rule is about to collapse?). The per-pair cosine floors to
    * an integer ppm BEFORE aggregation, so the mean is an
    * order-independent integer quotient — a distributed double sum
    * would be bit-nondeterministic across partition orders. The
    * within-component pair join is keyed on the component id;
    * component sizes are bounded by the near-dup cluster contract
    * (this reports on DEDUP clusters, not arbitrary partitions —
    * a corpus-sized component upstream means τ is set wrong).
    * Output: `(component, n_members, n_pairs, mean_cos_ppm)`. */
  def clusterCohesionFromPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      pairs: DataFrame,
      k: Int,
  ): DataFrame = {
    val comps = mutualKnnClustersFromPairs(pairs, k).localCheckpoint(eager = false)
    val e = withNorm(df, embCol)
      .select(col(idCol).as("__id"), col(embCol).as("__e"), col("nrm").as("__n"))
    val m = comps
      .join(e, col("doc_id") === col("__id"))
      .select(col("component"), col("doc_id"), col("__e"), col("__n"))
    val cosPairs = m
      .as("a")
      .join(m.as("b"), col("a.component") === col("b.component") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.component").as("component"),
        floor(cosSafe(dot(col("a.__e"), col("b.__e")), col("a.__n"), col("b.__n")) * 1000000L)
          .cast("long")
          .as("__cp"),
      )
    comps
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"))
      .join(
        cosPairs.groupBy("component").agg(count(lit(1)).as("n_pairs"), sum(col("__cp")).as("__s")),
        Seq("component"),
      )
      .select(
        col("component"),
        col("n_members"),
        col("n_pairs"),
        expr("__s div n_pairs").as("mean_cos_ppm"),
      )
  }

  /** Banding ladder for [[embeddingDupPairsAuto]]: (nPlanes, bands)
    * sized to the corpus. The candidate join has a RANDOM-collision
    * floor of ≈ bands × N² / 2^r pairs (r = bits per band): with the
    * demo config (r = 6, 64 buckets) the floor turns quadratic past a
    * few thousand vectors — measured 1.6s → 92s for 2k → 20k on
    * local[32]. Keeping the floor ∝ N means growing r with log₂ N;
    * each rung roughly doubles r as N grows 25×, trading a few more
    * map-side plane dots (nPlanes ≤ 120) for an exponentially smaller
    * collision divisor. Recall at τ ≥ 0.9 stays ≥ 0.99 on every rung
    * (per-band hit p^r with p ≈ 1 − θ/π; more bands offset larger r). */
  def chooseBanding(n: Long): (Int, Int) =
    if (n <= 4000L) (72, 12) //  r = 6,  64 buckets — the demo/gate config
    else if (n <= 100000L) (96, 8) //  r = 12, 4096 buckets
    else if (n <= 4000000L) (108, 6) //  r = 18, 262k buckets
    else (120, 5) //  r = 24, 16M buckets

  /** [[embeddingDupPairs]] with the banding chosen by a corpus-count
    * probe — the embedding twin of [[Dedup.jaccardPairsAuto]]'s
    * skew-probe selection. Same results as the fixed config on small
    * corpora (the first rung IS the default 72/12); on large corpora
    * only the approximation's candidate set changes, never a reported
    * pair's exactness (the cosine verify is exact on every rung). */
  def embeddingDupPairsAuto(
      df: DataFrame,
      idCol: String,
      embCol: String,
      tau: Double,
      probes: Int = 0,
  ): DataFrame = {
    val (nPlanes, bands) = chooseBanding(df.count())
    embeddingDupPairs(df, idCol, embCol, tau, nPlanes, bands, dim = 0, probes = probes)
  }

  /** Embedding near-dup pairs keyed on IVF cells instead of SRP bands:
    * candidates are pairs where one side's `nprobe` nearest cells
    * include the other side's home cell (symmetric via least/greatest
    * canonicalization), verified with the exact cosine. Reuses a
    * trained codebook ([[ivfCentroids]]/[[ivfRefine]]) — the variant to
    * pick when an IVF index already exists for ANN search; recall
    * tunes with `nprobe` and the cell count. The scoring join is keyed
    * on cent_id (broadcast codebook, no all-pairs product), candidates
    * ∝ Σ|cell|² — bounded by the quantizer, not corpus². */
  def embeddingDupPairsIvf(
      df: DataFrame,
      idCol: String,
      embCol: String,
      tau: Double,
      centroids: DataFrame,
      nprobe: Int = 2,
  ): DataFrame = {
    val base = withNorm(df, embCol)
    // One full-corpus assignment, materialized once: the home cell is
    // just rank 1 of the nprobe assignment, so the cand side is a
    // filter, not a second N×C scoring pass.
    val asg = ivfAssign(base, centroids, idCol, embCol, nprobe = nprobe, keepRank = true)
      .localCheckpoint(eager = false)
    val cand = asg
      .filter(col("cent_rank") === 1)
      .select(col(idCol).as("b_id"), col(embCol).as("__eb"), col("nrm").as("__nb"), col("cent_id"))
    val probe = asg
      .select(col(idCol).as("a_id"), col(embCol).as("__ea"), col("nrm").as("__na"), col("cent_id"))
    probe
      .join(cand, Seq("cent_id"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cos", cosSafe(dot(col("__ea"), col("__eb")), col("__na"), col("__nb")))
      .filter(col("cos") >= tau)
      .select(
        least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        col("cos"),
      )
      .distinct()
  }

  /** Approximate top-k: exact cosine ranking restricted to each query's
    * SRP bucket. Same output shape as [[bruteForceTopK]]; recall trades
    * against `nPlanes`. `dim <= 0` (default) is inferred, an explicit
    * value validated (see [[srpBuckets]]). */
  def srpTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      nPlanes: Int,
      queryPred: Column,
      dim: Int = 0,
  ): DataFrame = {
    val base = withNorm(df, embCol)
      .join(srpBuckets(df, idCol, embCol, nPlanes, dim), idCol)
    val q = base
      .filter(queryPred)
      .select(
        col(idCol).as("q_id"),
        col(embCol).as("q_emb"),
        col("nrm").as("q_nrm"),
        col("bucket"),
      )
    val c = base.select(
      col(idCol).as("n_id"),
      col(embCol).as("n_emb"),
      col("nrm").as("n_nrm"),
      col("bucket"),
    )
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("n_id"),
        cosSafe(dot(col("q_emb"), col("n_emb")), col("q_nrm"), col("n_nrm")).as("cos"),
      )
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored
      .filter(col("cos").isNotNull) // zero-norm rows never rank
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** IVF coarse centroids: the first `c` vectors by id. Sampled data
    * points are the standard coarse quantizer when no trained codebook
    * exists, and taking the id-ordered head keeps the index
    * deterministic across engines (no RNG state). Output:
    * (cent_id, cent_emb, cent_nrm). */
  def ivfCentroids(df: DataFrame, idCol: String, embCol: String, c: Int): DataFrame =
    withNorm(df, embCol)
      .orderBy(col(idCol))
      .limit(c)
      .select(col(idCol).as("cent_id"), col(embCol).as("cent_emb"), col("nrm").as("cent_nrm"))

  /** Nearest-`nprobe` centroid assignment by cosine (ties broken by
    * cent_id). The centroid table is tiny and broadcast. Input rows
    * need a precomputed `nrm` ([[withNorm]]).
    *
    * nprobe=1 (the corpus-side path of every IVF entry point) is a
    * hash aggregate, not a window: the broadcast-join expansion to C
    * scored rows per vector collapses back to one row per vector by a
    * map-side partial `min(struct(-cos, cent_id))` INSIDE the same
    * task, so the exchange moves one embedding copy per vector instead
    * of C copies through a window shuffle — a `min(struct)` hash
    * aggregate argmin. nprobe>1 (only ever the small probed query side) keeps the
    * window. Both paths share the (cos desc, cent_id asc) tie-break,
    * so results are identical. */
  def ivfAssign(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      embCol: String,
      nprobe: Int,
      keepRank: Boolean = false,
  ): DataFrame = {
    val scored = df
      .join(broadcast(centroids))
      .withColumn("__ccos", cosSafe(dot(col(embCol), col("cent_emb")), col("nrm"), col("cent_nrm")))
    if (nprobe == 1) {
      val others = df.columns.filter(_ != idCol)
      val cent =
        min(struct(negate(col("__ccos")), col("cent_id"))).getField("cent_id").as("cent_id")
      // the non-key input columns are constant within a group (the join
      // only fanned out the centroid side), so first() restores them
      val best = scored
        .groupBy(col(idCol))
        .agg(cent, others.map(c => first(col(c)).as(c)).toSeq: _*)
      if (keepRank) best.withColumn("cent_rank", lit(1)) else best
    } else {
      val w = Window.partitionBy(col(idCol)).orderBy(col("__ccos").desc, col("cent_id"))
      val ranked = scored
        .withColumn("__crk", row_number().over(w))
        .filter(col("__crk") <= nprobe)
        .drop("__ccos", "cent_emb", "cent_nrm")
      if (keepRank) ranked.withColumnRenamed("__crk", "cent_rank")
      else ranked.drop("__crk")
    }
  }

  /** IVF approximate top-k: candidates live in exactly one cell
    * (nearest centroid); each query probes its `nprobe` nearest cells
    * and ranks exact cosine within them. Same output shape as
    * [[bruteForceTopK]].
    *
    * Scale notes: with C cells the scoring join touches ~nprobe/C of
    * the corpus per query instead of all of it; the join is keyed on
    * cent_id, so cells are co-partitioned and only the (small) probed
    * query side replicates. Cell skew (a hot centroid) is bounded by
    * the quantizer; refine with [[ivfRefine]] when sampled centroids
    * cluster badly. */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      centroids: DataFrame,
      nprobe: Int,
      queryPred: Column,
      candidatePred: Column = lit(true),
  ): DataFrame =
    ivfTopKFromIndex(ivfIndex(df, idCol, embCol, centroids), idCol, embCol, k, centroids,
      nprobe, queryPred, candidatePred)

  /** The PERSISTED form of the IVF index: one `(id, emb, nrm, cent_id)`
    * row per vector, coarse assignment frozen at build time. Write it
    * partitioned by `cent_id` and a probe reads only its cells. */
  def ivfIndex(df: DataFrame, idCol: String, embCol: String, centroids: DataFrame): DataFrame =
    ivfAssign(withNorm(df, embCol), centroids, idCol, embCol, nprobe = 1)
      .select(col(idCol), col(embCol), col("nrm"), col("cent_id"))

  /** Incremental index maintenance — the 100 TB path for a corpus that
    * keeps growing: an arriving batch is assigned to the EXISTING
    * coarse quantizer and appended; already-indexed rows are never
    * touched (append-only storage, one map-side assignment pass over
    * the delta only). Result-identical to rebuilding from scratch with
    * the same centroids (pinned in OpsSpec), because assignment is a
    * pure per-row function of the frozen centroid set. Centroid drift
    * under a shifting distribution is the standard periodic-offline
    * concern ([[ivfRefine]] over a [[trainingSample]], then one full
    * re-encode) — exactly the operational split production ANN systems
    * use, never a per-batch cost. */
  def ivfAppend(
      index: DataFrame,
      batch: DataFrame,
      centroids: DataFrame,
      idCol: String,
      embCol: String,
  ): DataFrame =
    index.unionByName(ivfIndex(batch, idCol, embCol, centroids))

  /** Periodic index REFRESH — the lifecycle step between per-batch
    * [[ivfAppend]] (frozen quantizer, assignment drifts as the
    * distribution shifts) and a full offline rebuild from the raw
    * corpus: re-center the coarse quantizer with `iters` Lloyd steps
    * over the CURRENT index contents ([[ivfRefine]]), then ONE
    * re-assignment pass rebuilds the cell layout. The index already
    * stores every embedding, so a refresh never returns to the raw
    * corpus — at 100 TB that is the difference between re-reading the
    * lake and one pass over the (columnar, cent_id-clustered) index.
    * Result-identical to `ivfIndex(contents, refreshed)` built from
    * scratch — the `sim_ann_ivf_refresh` oracle replays re-centering +
    * rebuild end-to-end, and [[ivfCentroidDrift]] bounds how far the
    * quantizer moved (the alarm an operator pages on).
    *
    * @return (refreshed centroids, refreshed index) */
  def ivfRefresh(
      index: DataFrame,
      centroids: DataFrame,
      idCol: String,
      embCol: String,
      iters: Int = 1,
  ): (DataFrame, DataFrame) = {
    require(iters >= 1, s"a refresh re-centers at least once, got iters=$iters")
    val contents   = index.drop("cent_id", "nrm")
    val recentered = ivfRefine(contents, centroids, idCol, embCol, iters)
    (recentered, ivfIndex(contents, idCol, embCol, recentered))
  }

  /** Per-centroid drift between two centroid sets: squared L2 distance
    * of the old vs new embedding — the re-center drift bound a refresh
    * emits so index staleness is a measured quantity, not a guess.
    * The difference vector is double-subtracted and rounded once to
    * REAL (the [[annIvfPqResidualTopK]] residual discipline), then
    * squared through the shared left-to-right double dot fold, so the
    * drift numbers are bit-replayable cross-engine. Rows: (cent_id,
    * drift_sq); a centroid whose cell was empty keeps its embedding
    * ([[ivfRefine]] coalesces) and reports drift 0. */
  def ivfCentroidDrift(before: DataFrame, after: DataFrame): DataFrame = {
    val d = zip_with(
      col("__old"),
      col("__new"),
      (x, y) => (x.cast("double") - y.cast("double")).cast("float"),
    )
    before
      .select(col("cent_id"), col("cent_emb").as("__old"))
      .join(after.select(col("cent_id"), col("cent_emb").as("__new")), Seq("cent_id"))
      .select(col("cent_id"), dot(d, d).as("drift_sq"))
  }

  /** [[ivfTopK]] over a prebuilt (possibly incrementally-appended)
    * [[ivfIndex]]: candidates come straight from the stored cells; only
    * the (small) query side recomputes a multi-probe assignment. */
  def ivfTopKFromIndex(
      index: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      centroids: DataFrame,
      nprobe: Int,
      queryPred: Column,
      candidatePred: Column = lit(true),
  ): DataFrame = {
    // FILTERED vector search, single-stage form: the metadata
    // predicate lands on the index rows BEFORE the probe join, so a
    // probed cell contributes exactly its matching members — no
    // post-filter oversampling heuristics, no recall cliff when the
    // predicate is selective (the candidate set within probed cells is
    // exact; the only approximation remains the cell probe itself).
    // At scale the predicate rides the same scan as the cent_id
    // pruning, pushed to parquet.
    val cand = index
      .filter(candidatePred)
      .select(col(idCol).as("n_id"), col(embCol).as("n_emb"), col("nrm").as("n_nrm"), col("cent_id"))
    val qry = ivfAssign(index.filter(queryPred).drop("cent_id"), centroids, idCol, embCol, nprobe = nprobe)
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"), col("nrm").as("q_nrm"), col("cent_id"))
    rankProbedCells(cand, qry, k)
  }

  /** The shared tail of every coarse-cell probe: broadcast the (small)
    * multi-probe query side into its cells, exact cosine, per-query
    * top-k. */
  private def rankProbedCells(cand: DataFrame, qry: DataFrame, k: Int): DataFrame = {
    val scored = cand
      .join(broadcast(qry), Seq("cent_id"))
      .filter(col("n_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("n_id"),
        cosSafe(dot(col("q_emb"), col("n_emb")), col("q_nrm"), col("n_nrm")).as("cos"),
      )
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored
      .filter(col("cos").isNotNull) // zero-norm rows never rank
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** The SERVING path over a PERSISTED, `cent_id`-partitioned
    * [[ivfIndex]]: the query batch arrives as its own frame, its
    * multi-probe assignment yields the probed CELL SET (≤ C ids — the
    * codebook-broadcastability contract makes C driver-bounded), and
    * that set is pushed into the index read as a partition `isin`
    * filter, so the scan reads ONLY the probed cells' files. This is
    * the IVF analog of dynamic partition pruning, made deterministic:
    * DPP's broadcast-reuse heuristics decide per plan whether a
    * runtime filter reaches the scan, while an explicit probed-cell
    * literal ALWAYS prunes — at 100 TB the difference is reading
    * nprobe·|queries|/C of the index vs all of it. The two extra jobs
    * this costs (assignment + distinct over the query batch) touch
    * only query-batch-sized data. Output shape of [[bruteForceTopK]].
    */
  def ivfTopKFromStoredIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      centroids: DataFrame,
      nprobe: Int,
  ): DataFrame = {
    val qry = ivfAssign(withNorm(queries, embCol), centroids, idCol, embCol, nprobe = nprobe)
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"), col("nrm").as("q_nrm"), col("cent_id"))
    val cells = qry.select("cent_id").distinct().collect().map(_.getLong(0))
    val cand = spark.read
      .parquet(indexPath)
      .filter(col("cent_id").isin(cells.map(Long.box): _*))
      .select(
        col(idCol).as("n_id"),
        col(embCol).as("n_emb"),
        col("nrm").as("n_nrm"),
        col("cent_id").cast("long").as("cent_id"),
      )
    rankProbedCells(cand, qry, k)
  }

  /** Product-quantization codebook over int8-quantized subvectors: the
    * embedding is split into `m` contiguous subspaces of dim/m
    * dimensions; each subspace's codebook is the corresponding
    * subvectors of the first `ksub` rows by `idCol` (the deterministic
    * seed policy [[ivfCentroids]] uses — refinement is [[ivfRefine]]'s
    * demonstrated concern, seeding is PQ's). Codes and every distance
    * computed from them are int8 integers, so the whole PQ pipeline —
    * training, encoding, ADC scoring — is bit-reproducible in any
    * engine with no floating-point caveat (the ScaNN-style integer
    * variant of Jégou et al.'s PQ).
    *
    * Returns (sub_id, code_id, code array<bigint>): m × ksub rows —
    * a few KB however large the corpus, always broadcastable. The
    * composed entry points ([[pqAdcTopK]], [[annIvfPqTopK]]) probe the
    * dimension once and thread it here rather than re-running the
    * LIMIT-1 probe job per stage. */
  private[graft] def pqTrainInt8Dim(
      df: DataFrame,
      idCol: String,
      embCol: String,
      m: Int,
      ksub: Int,
      dim: Int,
  ): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(ksub >= 1, s"ksub must be >= 1, got $ksub")
    val dsub = dim / m
    val w    = Window.orderBy(col(idCol))
    quantizeInt8(df.orderBy(col(idCol)).limit(ksub), embCol)
      .withColumn("code_id", row_number().over(w) - 1)
      .select(
        col("code_id"),
        posexplode(
          transform(
            sequence(lit(0), lit(m - 1)),
            s => slice(col("q_emb"), s * dsub + 1, lit(dsub)),
          )
        ).as(Seq("sub_id", "code")),
      )
      .select("sub_id", "code_id", "code")
  }

  /** PQ encoding: each vector becomes `m` one-byte codes — the index of
    * its nearest codebook entry (integer L2, ties to the smaller
    * code_id) per subspace. 64 floats shrink to 8 bytes: the
    * compression that lets a 100 TB vector corpus's index live in
    * memory. The dimension is pre-resolved (see [[pqTrainInt8Dim]]).
    *
    * MAP-ONLY: the codebook is collected once ([[codebookArray]], a
    * few KB by PQ construction) and carried inside a native one-pass
    * expression ([[graft.functions.PqEncodeInt8Expr]]) that quantizes
    * the vector and computes the m argmins in tight integer loops. No
    * subvector explode, no broadcast join, no argmin exchange, no
    * re-collect groupBy: the whole encode pass is one projection over
    * the corpus scan — at 100 TB the difference between a zero-shuffle
    * stage and two N·m-row exchanges. */
  private[graft] def pqEncodeInt8Dim(
      df: DataFrame,
      codebook: DataFrame,
      idCol: String,
      embCol: String,
      m: Int,
      dim: Int,
  ): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val cb = codebookArray(codebook, m).map(_.map(_.toArray).toArray).toArray
    require(cb(0)(0).length == dim / m, s"codebook dsub ${cb(0)(0).length} != dim/m = ${dim / m}")
    df.select(
      col(idCol),
      graft.functions.PqEncodeInt8Expr
        .pq_encode(col(embCol), cb)
        .as("pq_codes"),
    )
  }

  /** Collect an m-subspace codebook into a dense driver-side array.
    * Bounded by construction: m × ksub × dsub longs — PQ constants,
    * independent of corpus size (the [[srpPlaneLiterals]] precedent:
    * index parameters may live on the driver, corpus data never). */
  private def codebookArray(codebook: DataFrame, m: Int): Seq[Seq[Seq[Long]]] = {
    val rows  = codebook.select(col("sub_id"), col("code_id"), col("code")).collect()
    val bySub = rows.groupBy(_.getInt(0))
    require(
      bySub.keySet == (0 until m).toSet,
      s"codebook must cover sub_ids 0..${m - 1}, got ${bySub.keySet.toSeq.sorted}",
    )
    (0 until m).map { s =>
      val entries = bySub(s).sortBy(_.getInt(1))
      require(
        entries.zipWithIndex.forall { case (r, i) => r.getInt(1) == i },
        s"codebook sub_id=$s must be dense in code_id",
      )
      entries.map(_.getSeq[Long](2).toIndexedSeq: Seq[Long]).toIndexedSeq: Seq[Seq[Long]]
    }
  }

  /** The (id, sub_id, qsub) quantized-subvector table every PQ stage
    * consumes — built once per entry point and, when training runs,
    * materialized once and shared between the Lloyd rounds and the
    * encode pass instead of re-quantizing the corpus per stage. */
  private[ops] def pqSubvectors(
      df: DataFrame,
      idCol: String,
      embCol: String,
      m: Int,
      dsub: Int,
  ): DataFrame =
    quantizeInt8(df, embCol)
      .select(
        col(idCol),
        posexplode(
          transform(
            sequence(lit(0), lit(m - 1)),
            s => slice(col("q_emb"), s * dsub + 1, lit(dsub)),
          )
        ).as(Seq("sub_id", "qsub")),
      )

  /** Per-subspace Lloyd refinement of an int8 PQ codebook — the
    * trained-codebook step a real index runs between seeding and
    * encoding (Jégou et al.'s k-means per subquantizer, here over the
    * int8-quantized points so the whole ladder stays bit-checkable):
    * each round assigns every subvector to its nearest entry (integer
    * L2, ties to the smaller code_id) and moves each entry to the
    * rounded mean of its members. The mean is floor(avg + 0.5),
    * computed as floor((2·sum + count) / (2·count)) in double — with
    * |sum| bounded by 127·N this quotient is exact-to-the-floor in
    * IEEE double (a rational with denominator 2·count is never within
    * an ulp of an integer it doesn't equal), so refined entries are
    * integers and engine-reproducible, no decimal-division dialect
    * gaps. Entries that lose every member keep their position.
    *
    * Scale shape per round: assignment is a broadcast-codebook
    * `min(struct(dist, code_id))` hash aggregate; the recompute is one
    * position-exploded hash aggregate (N·dim rows map-side-combined
    * straight down to m·ksub·dsub cells). The codebook is
    * localCheckpointed between rounds — m×ksub rows — so lineage stays
    * flat and each broadcast re-plans nothing.
    *
    * The rounds scan a pre-materialized subvector table
    * ([[pqSubvectors]]) once per iteration; callers that also encode
    * share the same materialization. */
  private[ops] def pqRefineFromSubs(
      subs: DataFrame,
      codebook: DataFrame,
      idCol: String,
      iters: Int,
  ): DataFrame = {
    val dist = aggregate(
      zip_with(col("qsub"), col("code"), (a, b) => (a - b) * (a - b)),
      lit(0L),
      (acc, v) => acc + v,
    )
    var cb = codebook
    for (_ <- 1 to iters) {
      val asg = subs
        .join(broadcast(cb), Seq("sub_id"))
        .select(col(idCol), col("sub_id"), col("qsub"), col("code_id"), dist.as("__d"))
        .groupBy(col(idCol), col("sub_id"))
        .agg(
          min(struct(col("__d"), col("code_id"))).getField("code_id").as("code_id"),
          // one qsub per (vector, subspace) — every joined row carries it
          first(col("qsub")).as("qsub"),
        )
      val means = asg
        .select(col("sub_id"), col("code_id"), posexplode(col("qsub")).as(Seq("pos", "v")))
        .groupBy(col("sub_id"), col("code_id"), col("pos"))
        .agg(sum(col("v")).as("__s"), count(lit(1)).as("__c"))
        .withColumn(
          "__cval",
          floor((lit(2) * col("__s") + col("__c")) / (lit(2) * col("__c"))).cast("long"),
        )
        .groupBy(col("sub_id"), col("code_id"))
        .agg(
          transform(
            array_sort(collect_list(struct(col("pos"), col("__cval")))),
            x => x("__cval"),
          ).as("__new")
        )
      cb = cb
        .join(means, Seq("sub_id", "code_id"), "left")
        .select(
          col("sub_id"),
          col("code_id"),
          coalesce(col("__new"), col("code")).as("code"),
        )
        .localCheckpoint(eager = false)
    }
    cb
  }

  /** PQ asymmetric-distance top-k (ADC): queries score candidates by
    * summing, per subspace, a precomputed partial dot between the
    * query's subvector and the candidate's CODE — candidates are
    * touched only through their m-byte codes, never their embeddings.
    * All arithmetic is integer (int8 query subvectors × int8 codebook
    * entries), so the complete ranking is bit-checkable like
    * [[bruteForceTopKInt8]], which is also its accuracy baseline (ADC
    * approximates that integer dot through the codebook).
    *
    * Scale posture: the LUT (q × m × ksub partial dots) is
    * queries-side small and broadcast; the scoring scan is m rows per
    * candidate joined to the LUT on (sub_id, code_id) with map-side
    * partial SUM before the (q_id, n_id) aggregate; the final cut is a
    * per-query window. The corpus-side bytes read per candidate are m
    * codes — the point of PQ. */
  def pqAdcTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      m: Int,
      ksub: Int,
      queryPred: Column,
      trainIters: Int = 0,
      trainSample: Int = 0,
  ): DataFrame = {
    val dim  = resolveDim(df, embCol, -1)
    val dsub = dim / m
    val cb0  = pqTrainInt8Dim(df, idCol, embCol, m, ksub, dim)
    // Training scans only the (bounded when trainSample > 0) training
    // set's subvector table; the encode pass is the map-only literal
    // form, so the full-corpus subvector materialization of earlier
    // rounds is gone entirely.
    val (cb, enc) =
      if (trainIters == 0) (cb0, pqEncodeInt8Dim(df, cb0, idCol, embCol, m, dim))
      else {
        val trainDf   = if (trainSample > 0) trainingSample(df, idCol, trainSample) else df
        val trainSubs = pqSubvectors(trainDf, idCol, embCol, m, dsub).localCheckpoint()
        val refined   = pqRefineFromSubs(trainSubs, cb0, idCol, trainIters)
        (refined, pqEncodeInt8Dim(df, refined, idCol, embCol, m, dim))
      }
    val qsubs = quantizeInt8(df.filter(queryPred), embCol)
      .select(
        col(idCol).as("q_id"),
        posexplode(
          transform(
            sequence(lit(0), lit(m - 1)),
            s => slice(col("q_emb"), s * dsub + 1, lit(dsub)),
          )
        ).as(Seq("sub_id", "qsub")),
      )
    val lut  = adcLut(qsubs, cb)
    val cand = enc.select(col(idCol).as("n_id"), col("pq_codes"))
    val w    = Window.partitionBy("q_id").orderBy(col("adc").desc, col("n_id"))
    // One joined row per (candidate, query); the score is the native
    // m-lookup fold — no per-code explode, no SUM aggregate. The
    // broadcast side is queries-small; the candidate side streams.
    cand
      .join(broadcast(lut), col("n_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("n_id"),
        graft.functions.AdcScoreExpr
          .adc_score(col("pq_codes"), col("lut"))
          .as("adc"),
      )
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Per-query ADC lookup table as ONE row per key: `lut[s][c]` is
    * the integer partial dot of the query's s-th subvector with
    * codebook entry c — m×ksub longs per key, assembled from the
    * broadcast codebook join and collected into a nested array so the
    * scoring scan reads it with two index lookups per subspace.
    *
    * `keyCols` is `(q_id)` for the global-codebook paths and
    * `(q_id, cent_id)` for the residual path, where the query's
    * residual — and therefore its LUT — differs per probed cell.
    *
    * `l2 = true` fills the table with integer SQUARED DISTANCES
    * Σ(qsubᵢ − codeᵢ)² instead of dots — the residual path's metric
    * (see [[annIvfPqResidualTopK]]: residual codes are a distance
    * approximation, not a dot approximation). */
  private def adcLut(
      qsubs: DataFrame,
      cb: DataFrame,
      keyCols: Seq[String] = Seq("q_id"),
      l2: Boolean = false,
  ): DataFrame = {
    val pdot = aggregate(
      zip_with(col("qsub"), col("code"), (a, b) => if (l2) (a - b) * (a - b) else a * b),
      lit(0L),
      (acc, v) => acc + v,
    )
    val keys = keyCols.map(col)
    qsubs
      .join(broadcast(cb), Seq("sub_id"))
      .select(keys :+ col("sub_id") :+ col("code_id") :+ pdot.as("pdot"): _*)
      .groupBy(keys :+ col("sub_id"): _*)
      .agg(
        transform(
          array_sort(collect_list(struct(col("code_id"), col("pdot")))),
          x => x("pdot"),
        ).as("__row")
      )
      .groupBy(keys: _*)
      .agg(
        transform(
          array_sort(collect_list(struct(col("sub_id"), col("__row")))),
          x => x("__row"),
        ).as("lut")
      )
  }

  /** IVF-PQ top-k — the billion-scale index composition (Jégou et
    * al.; the Faiss `IVF,PQ` shape): the float coarse quantizer routes
    * each query to its `nprobe` nearest cells, and inside the probed
    * cells candidates are scored through their m-byte PQ codes by the
    * integer ADC of [[pqAdcTopK]]. Candidates' embeddings are never
    * touched at query time — the scan reads cell id + m codes per
    * candidate, the memory layout that keeps a 100 TB corpus's index
    * resident.
    *
    * One global (non-residual) codebook: classic IVFPQ encodes
    * residuals x − centroid, which buys accuracy but reintroduces
    * float arithmetic into the codes; the integer variant keeps
    * training/encoding/scoring bit-checkable end to end, the same
    * trade [[annIvfInt8TopK]] makes.
    *
    * Dataflow: assignment is [[ivfAssign]] (broadcast centroids);
    * the (query, probed-cell, subspace, code) partial-dot table is
    * queries-side small and broadcast; candidate codes join it on
    * (cent_id, sub_id, code_id) with map-side partial SUM; final cut
    * is a per-query window. */
  def annIvfPqTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      m: Int,
      ksub: Int,
      centroids: DataFrame,
      nprobe: Int,
      queryPred: Column,
      trainIters: Int = 0,
      trainSample: Int = 0,
  ): DataFrame = {
    val dim  = resolveDim(df, embCol, -1)
    val dsub = dim / m
    val base = withNorm(df, embCol)
    val cb0  = pqTrainInt8Dim(df, idCol, embCol, m, ksub, dim)
    // Same bounded-training + literal-encode split as pqAdcTopK.
    val (cb, enc) =
      if (trainIters == 0) (cb0, pqEncodeInt8Dim(df, cb0, idCol, embCol, m, dim))
      else {
        val trainDf   = if (trainSample > 0) trainingSample(df, idCol, trainSample) else df
        val trainSubs = pqSubvectors(trainDf, idCol, embCol, m, dsub).localCheckpoint()
        val refined   = pqRefineFromSubs(trainSubs, cb0, idCol, trainIters)
        (refined, pqEncodeInt8Dim(df, refined, idCol, embCol, m, dim))
      }
    val candCells = ivfAssign(base, centroids, idCol, embCol, nprobe = 1)
      .select(col(idCol), col("cent_id"))
    val cand = enc
      .join(candCells, idCol)
      .select(col(idCol).as("n_id"), col("cent_id"), col("pq_codes"))
    val qCells = ivfAssign(base.filter(queryPred), centroids, idCol, embCol, nprobe)
      .select(col(idCol).as("q_id"), col("cent_id"))
    val qsubs = quantizeInt8(df.filter(queryPred), embCol)
      .select(
        col(idCol).as("q_id"),
        posexplode(
          transform(
            sequence(lit(0), lit(m - 1)),
            s => slice(col("q_emb"), s * dsub + 1, lit(dsub)),
          )
        ).as(Seq("sub_id", "qsub")),
      )
    val routedLut = adcLut(qsubs, cb).join(qCells, Seq("q_id"))
    val w         = Window.partitionBy("q_id").orderBy(col("adc").desc, col("n_id"))
    // Probed-cell equi-join, one row per (candidate, probing query);
    // the native m-lookup fold scores it — no per-code explode, no SUM
    // aggregate ([[pqAdcTopK]]'s shape, routed by cent_id).
    cand
      .join(broadcast(routedLut), Seq("cent_id"))
      .filter(col("n_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("n_id"),
        graft.functions.AdcScoreExpr
          .adc_score(col("pq_codes"), col("lut"))
          .as("adc"),
      )
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** RESIDUAL IVF-PQ top-k — the classic Jégou et al. IVFADC layout:
    * each vector is PQ-encoded not on its raw embedding but on its
    * residual x − c(x) against its own coarse centroid. Residuals
    * cluster tightly around the origin, so the same m×ksub codebook
    * budget spends its resolution on the part of the vector the coarse
    * quantizer did NOT explain — the accuracy-per-byte argument for
    * residual encoding (Jégou, Douze, Schmid 2011 §IV.B; Faiss
    * `IVFx,PQy` default).
    *
    * The integer ladder is preserved: residuals are computed in double
    * (float operands widen exactly, subtraction is exactly rounded)
    * and rounded once to float, then the UNCHANGED int8 PQ machinery —
    * [[pqTrainInt8Dim]] seeding, [[PqEncodeInt8Expr]] map-only encode,
    * integer ADC — runs over the residual column, so training,
    * encoding, and ranking remain bit-reproducible and the oracle
    * replays every stage (`CAST(x - c AS REAL)` is the same
    * round-to-nearest-even in any IEEE engine). This closes the
    * "residual needs float tolerance" caveat: only the residual
    * itself is float, and its rounding is exact-by-construction.
    *
    * The query-time consequence of residual codes: a query's ADC LUT
    * depends on WHICH cell it probes (its residual differs per
    * centroid), so the LUT is keyed (q_id, cent_id) — nprobe LUT rows
    * per query instead of one, still queries-side small and broadcast.
    * Candidate rows carry cell id + m codes, as before.
    *
    * The metric is L2 ADC, ASCENDING — Jégou et al.'s own
    * formulation: ‖q − x̂‖² = ‖(q − c) − r̂ₓ‖² = Σ_sub ‖r_q,sub −
    * code_sub‖², so the per-cell constant the coarse quantizer
    * removed is folded back in by construction and scores are a
    * single global quantity, comparable ACROSS probed cells. (A dot
    * LUT over residual codes would approximate dot(r_q, r_x), which
    * drops the per-candidate dot(c, r_x) term — not a proxy for
    * dot(q, x) even within one cell, and incomparable between cells;
    * residual encoding's accuracy-per-byte claim only holds for the
    * distance form.) The remaining cross-cell caveat is the int8
    * ladder itself: each probed cell quantizes r_q with its own
    * maxabs scale, so integer distances across cells are in slightly
    * different units — the same symmetric-quantization trade every
    * int8 path here makes, exact at float precision.
    *
    * Dataflow: two [[ivfAssign]] passes (corpus nprobe=1 hash
    * aggregate, queries nprobe=n window), one broadcast centroid join
    * per side to form residuals, map-only encode, broadcast LUT join
    * on cent_id, per-query window cut. No new shuffle shape vs
    * [[annIvfPqTopK]]. */
  def annIvfPqResidualTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      m: Int,
      ksub: Int,
      centroids: DataFrame,
      nprobe: Int,
      queryPred: Column,
  ): DataFrame = {
    val dim  = resolveDim(df, embCol, -1)
    val dsub = dim / m
    val base = withNorm(df, embCol)
    val cemb = centroids.select(col("cent_id"), col("cent_emb"))
    // residual against the row's assigned cell (cent_id already present)
    def resid(in: DataFrame): DataFrame =
      in.join(broadcast(cemb), Seq("cent_id"))
        .withColumn(
          "res",
          zip_with(col(embCol), col("cent_emb"), (x, c) => (x.cast("double") - c.cast("double")).cast("float")),
        )
        .drop("cent_emb")
    // consumed twice (codebook seed scan + candidate encode): materialize
    // the full-corpus assignment/residual pass once, like the sibling
    // paths' shared tables
    val cres = resid(ivfAssign(base, centroids, idCol, embCol, nprobe = 1)).localCheckpoint(eager = false)
    val cb   = pqTrainInt8Dim(cres, idCol, "res", m, ksub, dim)
    val cbArr = codebookArray(cb, m).map(_.map(_.toArray).toArray).toArray
    require(cbArr(0)(0).length == dsub, s"codebook dsub ${cbArr(0)(0).length} != dim/m = $dsub")
    val cand = cres.select(
      col(idCol).as("n_id"),
      col("cent_id"),
      graft.functions.PqEncodeInt8Expr.pq_encode(col("res"), cbArr).as("pq_codes"),
    )
    val qres = resid(ivfAssign(base.filter(queryPred), centroids, idCol, embCol, nprobe))
    val qsubs = quantizeInt8(qres, "res")
      .select(
        col(idCol).as("q_id"),
        col("cent_id"),
        posexplode(
          transform(
            sequence(lit(0), lit(m - 1)),
            s => slice(col("q_emb"), s * dsub + 1, lit(dsub)),
          )
        ).as(Seq("sub_id", "qsub")),
      )
    val lut = adcLut(qsubs, cb, Seq("q_id", "cent_id"), l2 = true)
    // ascending: adc is a squared-distance approximation of ‖q − x‖²
    val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("n_id"))
    cand
      .join(broadcast(lut), Seq("cent_id"))
      .filter(col("n_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("n_id"),
        graft.functions.AdcScoreExpr
          .adc_score(col("pq_codes"), col("lut"))
          .as("adc"),
      )
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** The fully-TRAINED index build in one call: Lloyd-refines the
    * float coarse quantizer ([[ivfRefine]], `coarseIters` rounds over
    * seed centroids from the first `nCells` vectors) and
    * Lloyd-trains the integer PQ codebooks (`trainIters` rounds),
    * then runs [[annIvfPqTopK]] — the production shape where index
    * construction and querying are a single composition
    * (`sim_ann_ivf_pq_trained_topk` is this call spelled out).
    *
    * `trainSample > 0` bounds BOTH training loops to that many
    * [[trainingSample]]-selected vectors (encode still covers the full
    * corpus) — `sim_ann_ivf_pq_sampled_topk` is this at-scale
    * configuration, oracle-replayed. */
  def annIvfPqTrainedTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      m: Int,
      ksub: Int,
      nCells: Int,
      nprobe: Int,
      queryPred: Column,
      coarseIters: Int = 1,
      trainIters: Int = 1,
      trainSample: Int = 0,
  ): DataFrame =
    annIvfPqTopK(
      df,
      idCol,
      embCol,
      k,
      m,
      ksub,
      centroids = ivfRefine(
        df,
        ivfCentroids(df, idCol, embCol, nCells),
        idCol,
        embCol,
        coarseIters,
        trainSample,
      ),
      nprobe,
      queryPred,
      trainIters,
      trainSample,
    )

  /** Deterministic bounded training set: the `n` vectors whose
    * `md5(id)` sorts first (ties by id). A hash order is a uniform
    * pseudo-random permutation with no RNG state, so the sample is
    * reproducible in any engine (`ORDER BY md5(CAST(id AS VARCHAR)),
    * id LIMIT n` replays it in SQL) — the property that lets an oracle
    * re-derive the exact trained index.
    *
    * Scale shape: a bare `ORDER BY md5 LIMIT n` plans as a CORPUS-WIDE
    * TakeOrderedAndProject — every row of 100 TB feeds a per-partition
    * top-n heap. Instead, a hash-PREFIX cutoff prunes first: rows with
    * 24-bit md5 prefix below `⌈margin·n/N · 2²⁴⌉` form an exact lower
    * segment of the (md5, id) ordering (equal-length hex compares
    * lexicographically = numerically), so the top-n of the pruned set
    * IS the top-n of the corpus whenever ≥ n rows survive — the result
    * is bit-identical to the unpruned form and the SQL oracle needs no
    * change. The heap then only ever sees ~margin·n rows. Survivor
    * count is binomial with mean margin·n; by Chernoff the probability
    * of fewer than n survivors is ≤ exp(−(margin−1)²/(2·margin)·n) —
    * comfortable for n ≥ 16, but thin for tiny n (at n=1, margin 8,
    * the no-survivor probability is ≈ e⁻⁸ ≈ 3·10⁻⁴, visible). So the
    * prune is GUARDED, not trusted: one count over the pruned scan
    * verifies ≥ n survivors, and a shortfall falls back to the
    * unpruned ordering — the bit-equality contract with the `ORDER BY
    * md5 LIMIT n` oracle is unconditional, not probabilistic. The
    * guard count is a single-column aggregate over the already-pruned
    * scan, the same scan the top-n pass reads anyway. `N` comes from
    * one `count()` (metadata-only on a plain parquet scan). Corpora
    * small enough that the prune cannot pay for itself skip it. */
  def trainingSample(df: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n >= 1, s"training sample size must be >= 1, got $n")
    val key     = md5(col(idCol).cast("string"))
    val ordered = (d: DataFrame) => d.orderBy(key, col(idCol)).limit(n)
    val total   = df.select(count(lit(1))).head().getLong(0)
    val margin  = if (n < 128) 8.0 else 4.0
    if (total <= (margin * 4 * n).toLong) ordered(df)
    else {
      val cut = math.min(1L << 24, math.ceil(margin * n / total * (1L << 24)).toLong)
      val pruned = df.filter(
        conv(substring(md5(col(idCol).cast("string")), 1, 6), 16, 10).cast("long") < lit(cut)
      )
      val survivors = pruned.select(count(lit(1))).head().getLong(0)
      if (survivors >= n) ordered(pruned) else ordered(df)
    }
  }

  /** Lloyd refinement of an IVF codebook: `iters` rounds of
    * assign-to-nearest + per-cell dimension-wise mean. Sums run through
    * DECIMAL(38,12), so the means are order-independent — the refined
    * codebook is bit-deterministic under any partitioning (plain double
    * sums would float with shuffle order). Means are cast back to
    * float, matching the corpus embedding type. A cell that loses
    * every member keeps its previous centroid (the [[pqRefineFromSubs]]
    * policy), so the codebook never shrinks.
    *
    * `trainSample > 0` bounds each Lloyd pass to that many
    * [[trainingSample]]-selected vectors (standard practice: ~256
    * training points per centroid suffice — Faiss trains exactly this
    * way) instead of scanning the full corpus per iteration, which is
    * the difference between an index build that touches 100 TB once
    * per round and one that trains on a few MB; 0 keeps the
    * full-corpus behavior. */
  def ivfRefine(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      embCol: String,
      iters: Int,
      trainSample: Int = 0,
  ): DataFrame = {
    val corpus = withNorm(df, embCol)
    val base =
      (if (trainSample > 0) trainingSample(corpus, idCol, trainSample) else corpus)
        .localCheckpoint()
    var cents = centroids
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(base, cents, idCol, embCol, nprobe = 1)
      val means = assigned
        .select(col("cent_id"), posexplode(col(embCol)).as(Seq("__pos", "__v")))
        .groupBy("cent_id", "__pos")
        .agg(
          (expr("CAST(SUM(CAST(__v AS DECIMAL(38,12))) AS DOUBLE)") / count(lit(1))).as("__m")
        )
        .groupBy("cent_id")
        .agg(array_sort(collect_list(struct(col("__pos"), col("__m")))).as("__ms"))
        .select(
          col("cent_id"),
          transform(col("__ms"), m => m.getField("__m").cast("float")).as("__new"),
        )
      cents = cents
        .join(means, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("__new"), col("cent_emb")).as("cent_emb"))
        .withColumn("cent_nrm", l2Norm(col("cent_emb")))
        .localCheckpoint()
    }
    cents
  }

  /** Mean-pooled group embedding — the long-document retrieval step
    * that turns chunk embeddings back into ONE document vector
    * (chunk → embed → mean-pool, the standard pipeline when documents
    * exceed the encoder's window). Dimension-wise means through
    * DECIMAL(38,12) sums (order-independent — a float/double sum
    * would make the pooled vector depend on partitioning), cast back
    * to float. Shape: one posexplode + (group, dim) keyed aggregation
    * + per-group dim re-assembly — the exact arithmetic and dataflow
    * of the k-means refinement step, reused for pooling. */
  def meanPoolEmbeddings(df: DataFrame, groupCol: String, embCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(embCol)).as(Seq("__pos", "__v")))
      .groupBy(groupCol, "__pos")
      .agg(
        (expr("CAST(SUM(CAST(__v AS DECIMAL(38,12))) AS DOUBLE)") / count(lit(1))).as("__m")
      )
      .groupBy(groupCol)
      .agg(array_sort(collect_list(struct(col("__pos"), col("__m")))).as("__ms"))
      .select(
        col(groupCol),
        transform(col("__ms"), m => m.getField("__m").cast("float")).as(embCol),
      )

  /** Semi-hard negative mining for contrastive training (FaceNet,
    * Schroff 2015): for each query, the top-k candidates with a
    * DIFFERENT label whose cosine is strictly below the query's best
    * same-label cosine — negatives hard enough to carry gradient but
    * not harder than the positive (the regime that avoids collapsed
    * embeddings). A query with no same-label candidate falls back to
    * plain hard negatives (no upper bound).
    *
    * Execution shape: the query side is broadcast (same contract as
    * [[bruteForceTopK]]); the candidate corpus is scanned exactly twice
    * — once aggregated to the per-query positive ceiling (|Q| rows),
    * once scored and windowed for the negatives — both map-side over
    * the scan with no corpus shuffle. Nothing |Q|·|C|-sized is ever
    * persisted, so the second scan is the deliberate trade (a persist
    * of the scored pairs would NOT survive 100 TB). The strict `<`
    * boundary is safe cross-engine because both sides compute the
    * identical left-to-right double fold.
    *
    * This is the exactness baseline; at corpus scale the candidate
    * scan drops onto the IVF/PQ ladder exactly like [[bruteForceTopK]]
    * does. */
  def semiHardNegatives(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      embCol: String,
      labelCol: String,
      k: Int,
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = withNorm(queries, embCol)
      .select(
        col(idCol).as("q_id"),
        col(embCol).as("__qe"),
        col("nrm").as("__qn"),
        col(labelCol).as("__ql"),
      )
    def scored(c: DataFrame): DataFrame =
      withNorm(c, embCol)
        .select(
          col(idCol).as("n_id"),
          col(embCol).as("__ne"),
          col("nrm").as("__nn"),
          col(labelCol).as("__nl"),
        )
        .join(broadcast(q), col("n_id") =!= col("q_id"))
        .select(
          col("q_id"),
          col("n_id"),
          col("__ql"),
          col("__nl"),
          cosSafe(dot(col("__qe"), col("__ne")), col("__qn"), col("__nn")).as("cos"),
        )
        .filter(col("cos").isNotNull)
    // scan 1: per-query positive ceiling (max same-label cosine)
    val posBest = scored(candidates)
      .filter(col("__nl") === col("__ql"))
      .groupBy("q_id")
      .agg(max(col("cos")).as("__pos_best"))
    // scan 2: different-label candidates under the ceiling, top-k
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored(candidates)
      .filter(col("__nl") =!= col("__ql"))
      .join(broadcast(posBest), Seq("q_id"), "left")
      // no positive ⇒ no ceiling (2.0 > any cosine)
      .filter(col("cos") < coalesce(col("__pos_best"), lit(2.0)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rnk"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell &
    * Goldstein 1998) with λ as an exact ppm rational: the objective
    * λ·rel − (1−λ)·max-sim is computed as
    * `ppm·rel − (10⁶−ppm)·max-sim` — two correctly-rounded double
    * multiplies and one subtraction with a pinned order, so selection
    * stays bit-deterministic cross-engine for ANY λ (a float λ would
    * put an engine's literal-parsing rounding inside the argmax).
    * At the default λ = ½ the weighting is a positive scale of
    * `rel − max-sim` (scaling by a positive constant is monotone
    * under IEEE rounding), the classic balanced setting.
    *
    * Greedy by construction: k driver rounds, each scoring the
    * candidate pool against the selected set so far. The selected set
    * is ≤ |Q|·k rows (collected and re-broadcast each round — the
    * codebook precedent), the pool is scanned once per round, and the
    * per-round argmax travels as |Q| rows. k is a UI-sized constant
    * (5, 10); the pool at production scale is a bounded rerank pool
    * fetched by the ANN ladder, not the corpus — so k pool scans is
    * the intended shape, not a scale hazard. */
  def mmrTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      lambdaPpm: Long = 500000L,
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambdaPpm >= 1 && lambdaPpm <= 1000000L,
      s"lambdaPpm must be in [1, 1e6], got $lambdaPpm")
    val spark = queries.sparkSession
    val q = withNorm(queries, embCol)
      .select(col(idCol).as("q_id"), col(embCol).as("__qe"), col("nrm").as("__qn"))
    // relevance pass: one corpus scan, reused by every round (small:
    // |Q|·|pool| rows of (ids, cos) — the pool is a rerank pool, and
    // the embeddings ride along for the round-local diversity dots)
    val rel = withNorm(candidates, embCol)
      .select(col(idCol).as("n_id"), col(embCol).as("__ne"), col("nrm").as("__nn"))
      .join(broadcast(q), col("n_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("n_id"),
        col("__ne"),
        col("__nn"),
        cosSafe(dot(col("__qe"), col("__ne")), col("__qn"), col("__nn")).as("rel"),
      )
      .filter(col("rel").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val w = Window.partitionBy("q_id").orderBy(col("mmr").desc, col("n_id"))
      // selected set as plain Rows + a captured schema, so the op stays
      // generic over the caller's id type (string keys work the same
      // as bigints); grows one row per query per round
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val selFields = Seq("q_id", "n_id", "__ne", "__nn")
      val selSchema = StructType(
        selFields.map(f => rel.schema(f)).map {
          case StructField("n_id", t, n, m) => StructField("s_id", t, n, m)
          case StructField("__ne", t, n, m) => StructField("__se", t, n, m)
          case StructField("__nn", t, n, m) => StructField("__sn", t, n, m)
          case other                        => other
        } :+ StructField("rnk", IntegerType, nullable = false)
      )
      var selected = Seq.empty[org.apache.spark.sql.Row]
      for (round <- 1 to k) {
        val selDf = spark.createDataFrame(
          new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(selected).asJava),
          selSchema,
        )
        val pool = rel.join(
          broadcast(selDf.select(col("q_id").as("__sq"), col("s_id"))),
          col("q_id") === col("__sq") && col("n_id") === col("s_id"),
          "left_anti",
        )
        val scoredRound =
          if (round == 1) pool.withColumn("mmr", col("rel"))
          else {
            val maxSim = pool
              .join(
                broadcast(selDf.select(col("q_id").as("__sq"), col("__se"), col("__sn"))),
                col("q_id") === col("__sq"),
              )
              .select(
                col("q_id"),
                col("n_id"),
                cosSafe(dot(col("__ne"), col("__se")), col("__nn"), col("__sn"))
                  .as("__sim"),
              )
              .groupBy("q_id", "n_id")
              .agg(max(col("__sim")).as("__max_sim"))
            pool
              .join(maxSim, Seq("q_id", "n_id"))
              .withColumn(
                "mmr",
                lit(lambdaPpm.toDouble) * col("rel") -
                  lit((1000000L - lambdaPpm).toDouble) * col("__max_sim"),
              )
          }
        val picked = scoredRound
          .withColumn("__r", row_number().over(w))
          .filter(col("__r") === 1)
          .select(col("q_id"), col("n_id"), col("__ne"), col("__nn"))
          .collect()
          .map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ round))
        selected = selected ++ picked
      }
      spark
        .createDataFrame(
          new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(selected).asJava),
          selSchema,
        )
        .select(col("q_id"), col("s_id").as("n_id"), col("rnk"))
    } finally rel.unpersist()
  }
}
