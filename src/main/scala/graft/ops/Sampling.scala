package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data curation. Every
  * keep/drop decision is a pure function of row content (an md5 hash
  * fraction — portable across engines, no RNG state, no seed
  * plumbing), so samples are exactly reproducible, differentially
  * checkable against any engine computing the same expression, and
  * stable under retries and re-partitioning — the properties
  * `Dataset.sample`'s per-partition RNG cannot give
  * (cf. `misc_sample`, rows-only by nature, vs `misc_sample_hash`).
  *
  * Scale notes: at 100 TB a sampling pass must be map-only — both
  * operators here are pure filters over one scan (predicate
  * scan-local, nothing shuffles, parallelism = input splits). The
  * hash fraction is uniform on [0, 1) with 2^-24 granularity (6 md5
  * hex chars), plenty for corpus mixing ratios.
  */
object Sampling {

  private val HashSpace = (1L << 24).toDouble

  /** 24-bit content hash of a key column — the single definition every
    * sampler and the sharder derive from (divergent copies would let
    * the kept set and the shard layout silently disagree). Null keys
    * hash as the empty string: a null key must still be SAMPLED at its
    * stratum's rate — `md5(null)` is null and `null < rate` is false,
    * which would silently drop every null-key row even at rate 1.0. */
  private[ops] def hash24(key: Column): Column =
    conv(substring(md5(coalesce(key.cast("string"), lit(""))), 1, 6), 16, 10).cast("long")

  /** Uniform-[0, 1) content-hash fraction of a key column — the
    * decision variable both samplers threshold. */
  def hashFraction(key: Column): Column = hash24(key) / lit(HashSpace)

  /** The ×10⁶-scaled integer form of [[hashFraction]] — ⌊hash24·10⁶ /
    * 2²⁴⌋, the split decision [[groupDisjointSplit]],
    * [[Stats.conformalMeanInterval]], and the streaming conformal gate
    * all threshold. ONE definition so the split can't silently drift
    * between batch and streaming twins; the oracle fragment is the
    * misc_split_group_disjoint / misc_conformal SQL. */
  def hashPpm(key: Column): Column = shiftright(hash24(key) * lit(1000000L), 24)

  /** Stratified deterministic sample — the corpus-mixing operation:
    * re-balance a training mix by keeping each stratum (source,
    * language, quality band, ...) at its own rate. `rates` compiles to
    * a literal CASE chain inside the predicate (no join, no shuffle);
    * strata absent from the map keep `defaultRate`. Within every
    * stratum the kept set is a prefix of the same hash ordering, so
    * LOWERING a stratum's rate always yields a subset of the higher
    * rate's sample — mix ratios can be retuned without resampling
    * churn. */
  def stratified(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0,
  ): DataFrame = {
    val rateCol = rates.toSeq
      .sortBy(_._1) // deterministic CASE order
      .foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
        when(col(strataCol) === lit(k), lit(r)).otherwise(acc)
      }
    df.filter(hashFraction(col(keyCol)) < rateCol)
  }

  /** Deterministic shard assignment — the training-shard writer's
    * partitioner: shard = content-hash integer mod `nShards`, a pure
    * function of the key (no RNG, no global ordering), so shards are
    * balanced in expectation, stable under retries/re-partitioning,
    * and identical in any engine computing the same expression. The
    * map-only alternative to a global row_number round-robin, which
    * would funnel the corpus through a single-partition window at
    * scale. `df.write.partitionBy("shard")` then emits the shard
    * files. */
  def shardAssign(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    df.withColumn("shard", hash24(col(keyCol)) % nShards)
  }

  /** Group-disjoint train/val/test split — the leakage-safe splitter
    * (sklearn's GroupShuffleSplit, made deterministic): the split is a
    * pure function of the GROUP key (source, domain, author…), never
    * the row, so every row of a group lands in the same split by
    * construction and near-duplicate rows within a group can never
    * straddle the train/eval boundary — the contamination mode a
    * row-hashed split silently permits. Boundaries are exact ppm
    * cuts in the 24-bit hash space (integer compare, no float in the
    * decision): h·10⁶ ÷ 2²⁴ < testPpm → test, < testPpm+valPpm → val,
    * else train. Map-only (one hash + two compares per row), stable
    * under retries and engine changes, subset-monotone in each
    * boundary. */
  def groupDisjointSplit(
      df: DataFrame,
      groupCol: String,
      testPpm: Long,
      valPpm: Long,
  ): DataFrame = {
    require(testPpm >= 0 && valPpm >= 0 && testPpm + valPpm <= 1000000L,
      s"ppm cuts must be >= 0 and sum <= 1e6, got test=$testPpm val=$valPpm")
    val ppm = hashPpm(col(groupCol))
    df.withColumn(
      "split",
      when(ppm < testPpm, lit("test"))
        .when(ppm < testPpm + valPpm, lit("val"))
        .otherwise(lit("train")),
    )
  }

  /** Temperature-balanced corpus mixing at α = 1/2 — the multilingual-
    * pretraining rebalancer (mT5/XLM-R sample language l with
    * probability ∝ p_l^α to lift low-resource strata): target shares
    * ∝ √n_s, realized as per-stratum Bernoulli rates
    * `rate_s = budget·q_s / (S·n_s)` with `q_s = ⌊√n_s · 2²⁰⌋` and
    * `S = Σ q_t`, then the standard [[stratified]] hash predicate.
    *
    * α is pinned to 1/2 ON PURPOSE: `sqrt` is correctly rounded in
    * every IEEE engine, so the whole rate computation (integerized
    * √-weights summed exactly, one double multiply/divide at the end)
    * is bit-reproducible across engines — a general `pow(p, α)` is
    * not correctly-rounded everywhere and would put a libm rounding
    * difference inside the keep/drop decision. Other temperatures are
    * reachable by iterating (α = 1/4 is √ twice, …).
    *
    * The strata-count collect is driver-side and BOUNDED by contract:
    * strata are the mixing dimension (sources, languages) —
    * thousands, not corpus-sized (the [[Similarity]] codebook rule).
    * Inherits [[stratified]]'s subset monotonicity: a smaller budget's
    * sample is a subset of a larger one's, per stratum. */
  def temperatureSqrt(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      budget: Long,
  ): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val counts = df
      .filter(col(strataCol).isNotNull)
      .groupBy(strataCol)
      .agg(count(lit(1)).as("__n"))
      .collect()
      // String.valueOf, not getString: a non-string strata column
      // (an int language id) must key the CASE chain, not throw CCE
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1))
      .sortBy(_._1)
    val qs   = counts.map { case (k, n) => k -> math.floor(math.sqrt(n.toDouble) * (1L << 20).toDouble).toLong }
    val sTot = qs.map(_._2).sum
    val rates = counts.zip(qs).map { case ((k, n), (_, q)) =>
      k -> (if (sTot == 0L) 0.0 else (budget.toDouble * q) / (sTot.toDouble * n))
    }.toMap
    stratified(df, keyCol, strataCol, rates, defaultRate = 0.0)
  }

  /** Epoch-repeat corpus expansion — the OVER-sampling half of a
    * training-mix recipe (the "epochs"/repeat column of Pile/LLaMA-style
    * data configs: a high-quality source is seen 2–4 times per epoch
    * while common crawl is seen once or subsampled). For stratum s with
    * budget b_s rows and n_s source rows, every row is emitted
    * `b_s div n_s` times and an additional hash-selected fraction
    * (`rate = (b_s mod n_s)/n_s`, the [[hashFraction]] predicate on the
    * row key) once more, with an `epoch` column (1-based) so a shard
    * writer can spread the copies across epochs. E[rows emitted] = b_s
    * exactly; the realized fractional count is binomial around it (the
    * same expectation semantics as every hash sampler here). Budgets
    * at or below n_s degrade gracefully to pure subsampling
    * (repeat 0 + fraction).
    *
    * Map-only: the per-stratum (repeat, rate) pair compiles into a
    * scan-local CASE (the [[stratified]] pattern — counts collected
    * once, |strata| rows, bounded by contract), then one
    * `explode(sequence(1, n_epochs))` per row — no shuffle, no state,
    * deterministic under retries. Strata missing from `budgets` keep
    * exactly one copy (repeat 1, no extra). */
  def epochExpand(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      budgets: Map[String, Long],
  ): DataFrame = {
    require(budgets.values.forall(_ >= 0), "budgets must be >= 0")
    val counts: Map[String, Long] = df
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("__n"))
      .collect() // |strata| rows — bounded by contract (mixing dimension)
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1))
      .toMap
    val plans: Seq[(String, Long, Long)] = budgets.toSeq.sortBy(_._1).flatMap {
      case (s, b) =>
        counts.get(s).filter(_ > 0).map { n =>
          // ppm-exact fractional rate: (b mod n)·10⁶ div n
          (s, b / n, ((b % n) * 1000000L) / n)
        }
    }
    val repeatCol = plans.foldLeft(lit(1L)) { case (acc, (s, rep, _)) =>
      when(col(strataCol) === lit(s), lit(rep)).otherwise(acc)
    }
    val fracCol = plans.foldLeft(lit(0L)) { case (acc, (s, _, ppm)) =>
      when(col(strataCol) === lit(s), lit(ppm)).otherwise(acc)
    }
    val extra =
      when(shiftright(hash24(col(keyCol)) * lit(1000000L), 24) < fracCol, lit(1L))
        .otherwise(lit(0L))
    df.withColumn("__n_epochs", repeatCol + extra)
      .filter(col("__n_epochs") >= 1L)
      .withColumn("epoch", explode(sequence(lit(1L), col("__n_epochs"))))
      .drop("__n_epochs")
  }

  /** Token-BUDGET deterministic sample per stratum — the corpus-mixing
    * form that targets a token (or byte/char) budget instead of a row
    * count: within each stratum, rows are taken in content-hash order
    * until the running sum of `costCol` would exceed the stratum's
    * budget (a mixture recipe compiles per-source weights × a global
    * token target into this map). The admission test is pure integer
    * arithmetic on exact cumulative sums — no float crosses an engine
    * boundary — and, like the other samplers, budgets are monotone: a
    * smaller budget always selects a prefix of a larger budget's
    * sample, so mixes can be retuned without churn.
    *
    * One cumulative-sum window partitioned by stratum (each stratum
    * sums independently — the same parallelism a 100 TB mixing job
    * needs); strata absent from the map get `defaultBudget`.
    *
    * PRECONDITION (shared with [[reservoirPerStratum]]): `keyCol` is
    * the row's unique identity. Rows SHARING a key value tie completely
    * in the (hash, key) ordering, and which of them the cumulative sum
    * admits at a budget boundary is then partition-order-dependent —
    * the determinism contract only holds over unique keys. */
  def tokenBudgetPerStratum(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      costCol: String,
      budgets: Map[String, Long],
      defaultBudget: Long,
  ): DataFrame = {
    require(defaultBudget >= 0, s"defaultBudget must be >= 0, got $defaultBudget")
    val budgetCol = budgets.toSeq
      .sortBy(_._1) // deterministic CASE order
      .foldLeft(lit(defaultBudget)) { case (acc, (k, b)) =>
        when(col(strataCol) === lit(k), lit(b)).otherwise(acc)
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("__cum", sum(col(costCol)).over(w))
      .filter(col("__cum") <= budgetCol)
      .drop("__cum")
  }

  /** Fixed-SIZE deterministic sample per stratum — the reservoir shape
    * (exactly min(k, |stratum|) rows each), where rate samplers can
    * only promise an expectation: keep the k rows with the smallest
    * content-hash per stratum, ties broken by the key itself. Shares
    * the rate samplers' determinism (pure content function, no RNG),
    * and the kept set for k' < k is always a prefix of k's — shrinking
    * a quota never reshuffles the sample.
    *
    * One window pass partitioned by stratum; the rank <= k filter
    * plans as partial+final WindowGroupLimit, so every map task keeps
    * at most k rows per local stratum before the shuffle — a bounded
    * sample of an unbounded corpus never materializes full ranks. */
  def reservoirPerStratum(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      k: Int,
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k).drop("__rk")
  }

  /** Curriculum ordering: a dense total order over the corpus that
    * interleaves difficulty strata — position p takes the p mod B-th
    * difficulty decile's next-easiest item, so every training window
    * sees the full difficulty spectrum instead of a monotone
    * easy→hard ramp's distribution shift (the anti-clustered ordering
    * curriculum/data-mixing loaders want).
    *
    * Precisely: rank rows 0..N-1 by (score, id); bucket = (rank·B) div
    * N (B near-equal difficulty strata, sizes differing by ≤ 1); the
    * curriculum position is the rank of (pos_in_bucket, bucket) — i.e.
    * round-robin across buckets, easiest-first within each.
    *
    * A total order over the corpus is the operator's CONTRACT, but no
    * stage here is a single-partition corpus sort: the difficulty rank
    * comes from the bounded-domain value histogram (the
    * [[Stats.quantileNormalize]] discipline — the global window runs
    * over distinct score VALUES, per-row work is a within-value window
    * bounded by value multiplicity), and the final position is pure
    * per-row arithmetic against the broadcast B-row bucket-size array
    * (a map-side fold), NOT a second ranking pass. Everything is
    * integer, so the order is bit-identical across engines.
    *
    * @return (id, score, difficulty_rank, bucket, pos_in_bucket, pos);
    *         `pos` is the dense 0-based curriculum position. Null
    *         scores are dropped (no place in the order — filter
    *         upstream if they must train). */
  def curriculumOrder(df: DataFrame, idCol: String, scoreCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val B = buckets
    val rows = df
      .select(col(idCol).cast("long").as("id"), col(scoreCol).cast("long").as("score"))
      .filter(col("score").isNotNull)
    val hist = rows.groupBy(col("score").as("__s")).agg(count(lit(1)).as("__c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("__s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val base = hist
      .withColumn("__base", coalesce(sum(col("__c")).over(wCum), lit(0L)))
      .select(col("__s"), col("__base"))
    val wIn = org.apache.spark.sql.expressions.Window.partitionBy("score").orderBy("id")
    val ranked = rows
      .withColumn("__within", row_number().over(wIn).cast("long") - 1L)
      .join(base, col("score") === col("__s"))
      .withColumn("rn0", col("__base") + col("__within"))
    // One broadcast row: N plus the ordered (bucket, size) array —
    // size_b = ceil((b+1)N/B) − ceil(bN/B), the exact census of
    // bucket = (rank·B) div N.
    val sizes = rows
      .agg(count(lit(1)).as("__n"))
      .select(
        col("__n"),
        expr(
          s"""transform(sequence(0, ${B - 1}), b -> struct(
             |  CAST(b AS BIGINT) AS b,
             |  ((b + 1) * __n + ${B - 1}) div $B - (b * __n + ${B - 1}) div $B AS sz))"""
            .stripMargin
        ).as("__szs"),
      )
    ranked
      .crossJoin(broadcast(sizes))
      .withColumn("bucket", expr(s"(rn0 * $B) div __n"))
      .withColumn("pos_in_bucket", expr(s"rn0 - (bucket * __n + ${B - 1}) div $B"))
      // rank of (pos_in_bucket, bucket) in lexicographic order: every
      // bucket b' contributes min(size_b', k) earlier-k rows, plus the
      // same-k rows of earlier buckets that reach k.
      .withColumn(
        "pos",
        expr(
          """aggregate(__szs, 0L, (acc, s) -> acc + least(s.sz, pos_in_bucket) +
            |  IF(s.b < bucket AND s.sz > pos_in_bucket, 1L, 0L))""".stripMargin
        ),
      )
      .select(col("id"), col("score"), col("rn0").as("difficulty_rank"), col("bucket"),
        col("pos_in_bucket"), col("pos"))
  }

  /** Preference-pair construction — the DPO/RLHF dataset step: per
    * group (prompt cluster, source, …), pair the highest-scored
    * response with the lowest-scored one as (chosen, rejected),
    * keeping only pairs with a strict margin (equal scores carry no
    * preference signal). Ties on score break toward the smallest id
    * on BOTH ends, so the pair set is a pure function of the data.
    *
    * One keyed aggregation: chosen = max(struct(score, −id)), rejected
    * = min(struct(score, id)) — the repo's min/max-struct argmax, two
    * partially-aggregable extrema, no window, single exchange on the
    * group key.
    *
    * @return one row per surviving group: groupCols, chosen_id,
    *         chosen_score, rejected_id, rejected_score, margin
    *         (≥ `minMargin`), n_docs. Null scores are excluded before
    *         pairing. */
  def preferencePairs(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      scoreCol: String,
      minMargin: Long = 1L,
  ): DataFrame = {
    require(groupCols.nonEmpty, "preferencePairs needs at least one group column")
    // margin 0 would admit singleton groups and all-equal groups, whose
    // "pair" is the same row twice — never valid preference data
    require(minMargin >= 1, s"preferencePairs needs minMargin >= 1, got $minMargin")
    val g = df
      .select(
        groupCols.map(col) ++
          Seq(col(idCol).cast("long").as("__id"), col(scoreCol).cast("long").as("__score")): _*
      )
      .filter(col("__score").isNotNull)
    g.groupBy(groupCols.map(col): _*)
      .agg(
        max(struct(col("__score").as("s"), (-col("__id")).as("negid"))).as("__best"),
        min(struct(col("__score").as("s"), col("__id").as("id"))).as("__worst"),
        count(lit(1)).as("n_docs"),
      )
      .select(
        groupCols.map(col) ++ Seq(
          (-col("__best.negid")).as("chosen_id"),
          col("__best.s").as("chosen_score"),
          col("__worst.id").as("rejected_id"),
          col("__worst.s").as("rejected_score"),
          (col("__best.s") - col("__worst.s")).as("margin"),
          col("n_docs"),
        ): _*
      )
      .filter(col("margin") >= minMargin)
  }

  /** Purged K-fold temporal cross-validation split (López de Prado
    * 2018's purged/embargoed CV, the leakage-control standard for
    * serially-correlated data): the time span is cut into `folds`
    * equal-duration test windows, and for each fold every row within
    * `embargoHours` of the test window's boundaries is PURGED from
    * that fold's training set — adjacent-in-time rows carry leaked
    * label information that a plain K-fold would train on.
    *
    * Boundaries are exact integer microsecond arithmetic
    * (start_i = t0 + i·dur div k over the [t0, t1] span), so fold
    * membership is a pure row function — reproducible, engine-portable,
    * no sampling state. Shape: one 1-row span aggregate (broadcast),
    * then a map-only k-way explode classifying each row against each
    * fold, then a k-key conditional-count aggregation; nothing keyed
    * by row ever shuffles.
    *
    * @return one row per fold: (fold, test_start, test_end — micros,
    *         end exclusive, n_test, n_train, n_purged). */
  def purgedFolds(df: DataFrame, tsCol: String, folds: Int, embargoHours: Int): DataFrame = {
    require(folds >= 2, s"purged CV needs folds >= 2, got $folds")
    require(embargoHours >= 0, s"embargoHours must be >= 0, got $embargoHours")
    val emb = embargoHours * 3600L * 1000000L
    val us   = df.select(unix_micros(col(tsCol)).as("t")).filter(col("t").isNotNull)
    val span = us.agg(min(col("t")).as("t0"), (max(col("t")) + 1L).as("t1"))
    us.crossJoin(broadcast(span))
      .withColumn("__dur", col("t1") - col("t0"))
      .select(
        col("t"),
        explode(
          expr(
            s"""transform(sequence(0, ${folds - 1}), f -> struct(
               |  CAST(f AS BIGINT) AS fold,
               |  t0 + (f * __dur) div $folds AS ts_start,
               |  t0 + ((f + 1) * __dur) div $folds AS ts_end))""".stripMargin
          )
        ).as("__f"),
      )
      .select(col("t"), col("__f.fold").as("fold"), col("__f.ts_start").as("test_start"),
        col("__f.ts_end").as("test_end"))
      .withColumn(
        "__role",
        when(col("t") >= col("test_start") && col("t") < col("test_end"), lit("test"))
          .when(
            col("t") < col("test_start") - lit(emb) || col("t") >= col("test_end") + lit(emb),
            lit("train"),
          )
          .otherwise(lit("purged")),
      )
      .groupBy("fold", "test_start", "test_end")
      .agg(
        sum(when(col("__role") === "test", 1L).otherwise(0L)).as("n_test"),
        sum(when(col("__role") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("__role") === "purged", 1L).otherwise(0L)).as("n_purged"),
      )
  }
}
