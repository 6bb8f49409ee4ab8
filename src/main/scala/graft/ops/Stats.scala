package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact outlier clipping (winsorization) for integral feature columns
  * — the feature-prep step between profiling ([[Profile]]) and
  * training, done with the [[Text.pruneByScoreQuantile]] histogram
  * discipline: quantile thresholds come from the cumulative of the
  * bounded-domain value HISTOGRAM, never from a corpus-wide sort, so
  * the single-partition window touches ≤ |domain| rows at any corpus
  * size and the corpus itself is scanned exactly twice (histogram +
  * clamp). Nearest-rank quantiles (⌈n·q⌉) in integer ppm — no
  * interpolation, no floats — so any engine replays the thresholds
  * bit-for-bit.
  */
object Stats {

  /** The shared spine of every quantile op here: the NON-NULL value
    * histogram of `valueCol` with inclusive cumulative count and total
    * — columns `(__s, __c, __cum, __n)`. Non-null because a null
    * histogram group would both skew n and sort differently across
    * engines (Spark orders nulls first, DuckDB last); the
    * single-partition window is over the domain-bounded histogram,
    * never the corpus. */
  private def cumHist(df: DataFrame, valueCol: String): DataFrame =
    cumOf(
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(valueCol).as("__s"))
        .agg(count(lit(1)).as("__c"))
    )

  /** Inclusive cumulative + total over an ALREADY-BUILT histogram
    * `(__s, __c)` — split out of [[cumHist]] so derived histograms
    * (e.g. [[madOutliers]]'s deviation histogram, whose counts must be
    * SUMMED, not re-counted) share the same window discipline.
    *
    * CONTRACT: the histogram's domain must be BOUNDED (every caller
    * here feeds integral feature values — lengths, counts, scores —
    * whose distinct-value count is data-model-bounded, not
    * corpus-proportional), because both windows run unpartitioned and
    * gather the histogram onto one task. For a continuous /
    * high-cardinality domain (names, timestamps) use the tiered
    * cumulative in [[Blocking.snmRank]] — range partitions + parallel
    * local sums + P-row broadcast offsets — which has no such bound. */
  private def cumOf(hist: DataFrame): DataFrame = {
    val wCum = Window.orderBy(col("__s")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window
      .orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
  }

  /** The nearest-rank threshold aggregate shared by [[quantileThresholds]]
    * and the median/MAD selectors: the smallest `__s` whose inclusive
    * cumulative reaches rank ⌈n·ppm/10⁶⌉ (clamped to ≥ 1). */
  private def rankSelect(ppm: Long, as: String): Column =
    min(when(col("__cum") >= expr(s"greatest(1L, ((__n * ${ppm}L) + 999999L) div 1000000L)"),
      col("__s"))).as(as)

  /** Nearest-rank quantile thresholds of `valueCol` (integral) as a
    * 1-row frame `(__lo, __hi)`: the smallest values whose cumulative
    * count reaches ⌈n·ppm/10⁶⌉ (clamped to rank ≥ 1). */
  def quantileThresholds(
      df: DataFrame,
      valueCol: String,
      ppmLo: Long,
      ppmHi: Long,
  ): DataFrame = {
    require(0L <= ppmLo && ppmLo <= ppmHi && ppmHi <= 1000000L, s"bad ppm range $ppmLo..$ppmHi")
    cumHist(df, valueCol)
      .agg(rankSelect(ppmLo, "__lo"), rankSelect(ppmHi, "__hi"))
  }

  /** Robust outlier flags via the MEDIAN ABSOLUTE DEVIATION — the
    * heavy-tail-safe twin of z-score screening (one extreme value moves
    * a mean/stddev fence arbitrarily far; it moves the median/MAD fence
    * not at all): a row is an outlier when |x − median| · 10⁶ >
    * `kPpm` · MAD. Both medians are nearest-rank selections, and the
    * MAD's deviation histogram is DERIVED FROM the value histogram
    * (group |s − med| over the histogram, summing counts) — so the
    * corpus is scanned exactly once for statistics plus once for
    * flagging, and every windowed step stays domain-bounded. All
    * arithmetic is integral (the comparison multiplies through by 10⁶
    * instead of dividing), exactly replayable cross-engine. The classic
    * consistency constant (1.4826 for normal data) folds into `kPpm` —
    * e.g. 3σ ≈ kPpm 4_447_800. Null values keep null `dev`/`is_outlier`
    * (they are missing, not extreme).
    *
    * @return `df` plus `dev` (|x − median|) and `is_outlier`. */
  def madOutliers(df: DataFrame, valueCol: String, kPpm: Long): DataFrame = {
    require(kPpm >= 0L, s"kPpm must be non-negative, got $kPpm")
    val hist = cumHist(df, valueCol)
    val med  = hist.agg(rankSelect(500000L, "__med"))
    val mad = cumOf(
      hist
        .crossJoin(broadcast(med))
        .groupBy(abs(col("__s") - col("__med")).as("__s"))
        .agg(sum(col("__c")).as("__c"))
    ).agg(rankSelect(500000L, "__mad"))
    val dev = abs(col(valueCol) - col("__med"))
    df.crossJoin(broadcast(med))
      .crossJoin(broadcast(mad))
      .withColumn("dev", dev)
      // DECIMAL products: a wide integral domain times kPpm can exceed
      // Long; exactness must not depend on the caller's value range
      .withColumn(
        "is_outlier",
        col("dev").cast("decimal(38,0)") * 1000000L > col("__mad").cast("decimal(38,0)") * kPpm,
      )
      .drop("__med", "__mad")
  }

  /** One-pass covariance-structure sufficient statistics over k
    * integral feature columns: n, Σxᵢ, Σxᵢ², and every pairwise Σxᵢxⱼ
    * — the inputs to a Pearson correlation matrix, a linear-regression
    * normal equation, or a PCA covariance estimate. Emitting the
    * SUFFICIENT STATISTICS instead of the final floats keeps the
    * result exact (sums accumulate through DECIMAL(38,0), immune to
    * Long wraparound and float ordering alike, then land in BIGINT);
    * the downstream r = cov/(σσ) division is the caller's one float
    * op. One aggregation, no shuffle beyond the k(k+3)/2+1 partial
    * cells per task — the textbook mergeable-statistics shape. */
  def corrSufficientStats(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.nonEmpty, "need at least one feature column")
    val aliases = cols.map { case (n, _) => s"sum_$n" } ++
      cols.map { case (n, _) => s"sum_${n}_$n" } ++
      cols.combinations(2).map { case Seq((a, _), (b, _)) => s"sum_${a}_$b" }
    // underscore-bearing names can make a square alias collide with a
    // cross alias ("a_b" square vs a×b cross) — Row.getAs would then
    // silently return the wrong statistic; fail fast instead
    require(
      aliases.distinct.size == aliases.size,
      s"feature names produce colliding stat aliases: ${aliases.diff(aliases.distinct).mkString(", ")}",
    )
    // COMPLETE CASES: a row with any null feature is dropped before
    // aggregation, so n and every sum range over the SAME row set —
    // without this, each pairwise sum would skip a different subset
    // and any Pearson/regression derived from the stats would be
    // silently wrong. (Listwise deletion; per-pair n would be the
    // alternative if sparsity matters.)
    val proj = df
      .select(cols.map { case (n, c) => c.cast("decimal(38,0)").as(n) }: _*)
      .na
      .drop()
    val aggs =
      cols.map { case (n, _) => sum(col(n)).cast("long").as(s"sum_$n") } ++
        cols.map { case (n, _) => sum(col(n) * col(n)).cast("long").as(s"sum_${n}_$n") } ++
        cols.combinations(2).map { case Seq((a, _), (b, _)) =>
          sum(col(a) * col(b)).cast("long").as(s"sum_${a}_$b")
        }.toSeq
    proj.agg(count(lit(1)).as("n"), aggs: _*)
  }

  /** PAIRWISE-DELETION covariance statistics — the sparse-feature twin
    * of [[corrSufficientStats]]: instead of dropping every row with
    * ANY null feature (listwise deletion, which under heavy sparsity
    * can drop almost everything), each pair (i, j) is aggregated over
    * the rows where BOTH xᵢ and xⱼ are non-null, with its own n. Still
    * exactly ONE aggregation pass — every per-pair sum is a
    * conditional cell of the same wide agg row (k(k−1)/2 · 6 cells,
    * map-side combinable) — then the 1-row frame unpivots to one row
    * per pair via `inline` (never touching data again). Sums are null
    * when a pair has no complete rows (SQL sum semantics); n is 0.
    * The caveat is the textbook one: pairwise-deletion moment
    * matrices need not be positive semi-definite — that is the
    * caller's modeling decision, not an engine concern. */
  def corrPairwiseStats(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, "pairwise stats need at least two feature columns")
    val pairs = cols.map(_._1).combinations(2).toSeq.map { case Seq(a, b) => (a, b) }
    val cells = pairs.flatMap { case (a, b) =>
      Seq("n", "sx", "sy", "sxx", "syy", "sxy").map(s => s"${s}__${a}__$b")
    }
    require(
      cells.distinct.size == cells.size,
      s"feature names produce colliding pair aliases: ${cells.diff(cells.distinct).mkString(", ")}",
    )
    val proj = df.select(cols.map { case (n, c) => c.cast("decimal(38,0)").as(n) }: _*)
    val aggs = pairs.flatMap { case (a, b) =>
      val both = col(a).isNotNull && col(b).isNotNull
      Seq(
        count(when(both, lit(1))).as(s"n__${a}__$b"),
        sum(when(both, col(a))).cast("long").as(s"sx__${a}__$b"),
        sum(when(both, col(b))).cast("long").as(s"sy__${a}__$b"),
        sum(when(both, col(a) * col(a))).cast("long").as(s"sxx__${a}__$b"),
        sum(when(both, col(b) * col(b))).cast("long").as(s"syy__${a}__$b"),
        sum(when(both, col(a) * col(b))).cast("long").as(s"sxy__${a}__$b"),
      )
    }
    val wide = proj.agg(aggs.head, aggs.tail: _*)
    wide.select(
      inline(array(pairs.map { case (a, b) =>
        struct(
          lit(a).as("x"),
          lit(b).as("y"),
          col(s"n__${a}__$b").as("n"),
          col(s"sx__${a}__$b").as("sum_x"),
          col(s"sy__${a}__$b").as("sum_y"),
          col(s"sxx__${a}__$b").as("sum_x_x"),
          col(s"syy__${a}__$b").as("sum_y_y"),
          col(s"sxy__${a}__$b").as("sum_x_y"),
        )
      }: _*))
    )
  }

  /** Equi-depth histogram — the `ANALYZE TABLE`-class statistics
    * artifact a cost-based optimizer prunes and reorders with: k
    * buckets of (as near as ties allow) equal row counts, each
    * reported with its value bounds and exact count. Bucket assignment
    * is by rank over the value HISTOGRAM — bucket(v) = ⌊(#strictly
    * less) · k / n⌋, clamped to k−1 — so ties land in one bucket
    * (boundaries never split a value) and the whole artifact is
    * integer-exact and engine-replayable. Corpus-scale work: one
    * groupBy; the ranking window touches only the domain-bounded
    * histogram. Null values are excluded (the [[quantileThresholds]]
    * convention); report their count separately via [[Profile]]. */
  def equiDepthHistogram(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need at least one bucket, got $k")
    cumHist(df, valueCol)
      .withColumn(
        "bucket",
        least(expr(s"((__cum - __c) * ${k}L) div __n"), lit(k.toLong - 1)),
      )
      .groupBy("bucket")
      .agg(
        min(col("__s")).as("lo"),
        max(col("__s")).as("hi"),
        sum(col("__c")).as("cnt"),
      )
  }

  /** Distribution drift between a reference corpus and a current batch
    * — the training-data / model-input monitoring op (the PSI/KS
    * family): the reference's [[equiDepthHistogram]] buckets become
    * the binning, the current batch's values are assigned to them by
    * upper edge (below-range → bucket 0's range via edge 0, above the
    * last edge → bucket k−1), and the drift statistic is TOTAL
    * VARIATION distance in integer ppm — ½·Σ|pᵢ−qᵢ| as
    * Σ|refᵢ·m − curᵢ·n|·10⁶ div (2·n·m), exact through DECIMAL (PSI's
    * logarithm would drag cross-engine floats in; TV is the same
    * monitoring signal, bounded in [0, 10⁶]). Scale shape: one groupBy
    * per side plus a broadcast k-row edge join against the current
    * side's VALUE histogram (|domain| × k, never row-proportional).
    *
    * @return k rows: `bucket`, `ref_cnt`, `cur_cnt`, and the constant
    *         `tv_ppm` replicated per row. */
  def distributionDrift(
      reference: DataFrame,
      current: DataFrame,
      valueCol: String,
      k: Int,
  ): DataFrame = {
    val ref = equiDepthHistogram(reference, valueCol, k)
      .select(col("bucket"), col("hi"), col("cnt").as("ref_cnt"))
    val curHist = current
      .filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val assigned = curHist
      .join(broadcast(ref.select(col("bucket").as("__b"), col("hi"))), col("__v") <= col("hi"), "left")
      .groupBy("__v", "__c")
      .agg(min(col("__b")).as("__minb"))
      .withColumn("bucket", coalesce(col("__minb"), lit(k.toLong - 1)))
      .groupBy("bucket")
      .agg(sum(col("__c")).as("cur_cnt"))
    val perBucket = ref
      .join(assigned, Seq("bucket"), "left")
      .select(col("bucket"), col("ref_cnt"), coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"))
    totalVariationPpm(perBucket)
  }

  /** Map-only bucket assignment against COLLECTED equi-depth upper
    * edges (sorted ascending): the index of the first edge ≥ v,
    * clamped to k−1 — identical to [[distributionDrift]]'s min-edge
    * join, but as a scalar expression over a k-element literal array.
    * This is the streaming/row-at-a-time form (a per-row min-join is
    * not expressible before a streaming aggregation); it is also the
    * 100 TB form — the k-row edge table is driver-bounded (the PQ
    * codebook convention) and assignment fuses into the scan. */
  def bucketOfExpr(
      value: Column,
      edges: Seq[(Long, Long)],
      overflowBucket: Long,
  ): Column = {
    require(edges.nonEmpty, "need at least one bucket edge")
    val his = edges.map(_._2)
    require(
      his.zip(his.tail).forall { case (a, b) => a < b },
      "upper edges must be strictly ascending",
    )
    // idx = #edges with hi < v = position of the first edge ≥ v;
    // past-the-end (v above range) takes the caller's overflow bucket
    // (k−1 by the distributionDrift convention, matching its
    // coalesce-after-left-join)
    val idx = aggregate(
      lit(his.toArray),
      lit(0L),
      (acc, e) => acc + when(value > e, 1L).otherwise(0L),
    )
    when(idx === his.length.toLong, lit(overflowBucket))
      .otherwise(element_at(lit(edges.map(_._1).toArray), (idx + 1L).cast("int")))
  }

  /** The drift statistic over an already-binned frame `(bucket,
    * ref_cnt, cur_cnt)` plus optional segment columns: total-variation
    * distance in exact integer ppm, per segment (see
    * [[distributionDrift]] for the arithmetic rationale). Each window
    * runs over one segment's k rows, never data. */
  def totalVariationPpm(perBucket: DataFrame, segmentCols: Seq[String] = Nil): DataFrame = {
    val w = Window
      .partitionBy(segmentCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perBucket
      .withColumn("__n", sum(col("ref_cnt")).over(w))
      .withColumn("__m", sum(col("cur_cnt")).over(w))
      .withColumn(
        "__sumabs",
        sum(
          abs(
            col("ref_cnt").cast("decimal(38,0)") * col("__m") -
              col("cur_cnt").cast("decimal(38,0)") * col("__n")
          )
        ).over(w),
      )
      // integral `div`, not decimal divide-then-cast: decimal division
      // rounds at its result scale, which can nudge a boundary quotient
      // past the floor DuckDB's `//` computes. An EMPTY current batch is
      // total drift by definition (10⁶ ppm), not a division error.
      .withColumn(
        "tv_ppm",
        when(col("__m") === 0, lit(1000000L)).otherwise(
          expr("CAST((__sumabs * 1000000) div (CAST(__n AS DECIMAL(38,0)) * __m * 2) AS BIGINT)")
        ),
      )
      .select(
        (segmentCols.map(col) ++
          Seq(col("bucket"), col("ref_cnt"), col("cur_cnt"), col("tv_ppm"))): _*
      )
  }

  /** Per-segment distribution drift — [[distributionDrift]] fanned out
    * over a segment column (source, shard, supplier, day): every
    * segment's value distribution is scored against the ONE corpus-wide
    * equi-depth reference, surfacing outlier segments in a single
    * artifact — the curation step that finds the source whose documents
    * suddenly look nothing like the corpus. Scale shape: the reference
    * is the usual domain-bounded histogram; the segment side is one
    * groupBy(segment, value) + the broadcast k-row edge join; the
    * segment×bucket grid (|segments|·k rows) and the per-segment TV
    * windows never touch row-proportional data. Null segment values
    * form their own segment (they are data, not arithmetic). */
  def driftBySegment(
      df: DataFrame,
      segmentCol: String,
      valueCol: String,
      k: Int,
  ): DataFrame = {
    val ref = equiDepthHistogram(df, valueCol, k)
      .select(col("bucket"), col("hi"), col("cnt").as("ref_cnt"))
    val segHist = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(segmentCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val assigned = segHist
      .join(broadcast(ref.select(col("bucket").as("__b"), col("hi"))), col("__v") <= col("hi"), "left")
      .groupBy(col(segmentCol), col("__v"), col("__c"))
      .agg(min(col("__b")).as("__minb"))
      .withColumn("bucket", coalesce(col("__minb"), lit(k.toLong - 1)))
      .groupBy(col(segmentCol), col("bucket"))
      .agg(sum(col("__c")).as("cur_cnt"))
    val grid = df
      .select(col(segmentCol))
      .distinct()
      .crossJoin(broadcast(ref))
    // null-safe segment key: a null segment is a segment, not a join
    // miss (plain equality would zero its counts and report total
    // drift for data that is actually present)
    val counts = assigned
      .withColumnRenamed(segmentCol, "__seg")
      .withColumnRenamed("bucket", "__bk")
    val perBucket = grid
      .join(counts, col(segmentCol) <=> col("__seg") && col("bucket") === col("__bk"), "left")
      .select(
        col(segmentCol),
        col("bucket"),
        col("ref_cnt"),
        coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"),
      )
    totalVariationPpm(perBucket, Seq(segmentCol))
  }

  /** Quantile (rank) normalization of an integral feature — each value
    * mapped to its percent-rank in integer ppm: ⌊(#strictly-less ·
    * 10⁶) / (n−1)⌋, the `percent_rank()` definition floored to ppm.
    * The window form (`win_pct_rank_cume`) globally sorts the corpus —
    * a single-partition bottleneck at scale; this form computes ranks
    * on the value HISTOGRAM (domain-bounded) and joins them back on
    * the value key, so the corpus-sized work is one groupBy and one
    * equi-join. Returns `df` plus `pr_ppm` (0 for a single-row/
    * constant input). */
  def quantileNormalize(df: DataFrame, valueCol: String): DataFrame = {
    val ranks = cumHist(df, valueCol)
      .select(
        col("__s").as(valueCol),
        when(col("__n") <= 1, lit(0L))
          .otherwise(expr("((__cum - __c) * 1000000L) div (__n - 1)"))
          .as("pr_ppm"),
      )
    // LEFT join: a NULL value has no rank (equi-join keys never match
    // null) — the row survives with pr_ppm NULL instead of silently
    // vanishing from the output.
    df.join(ranks, Seq(valueCol), "left")
  }

  /** Per-segment quantile normalization — [[quantileNormalize]] with
    * the rank domain scoped to each segment (source, shard, day):
    * the feature-prep step when segments have incomparable raw scales
    * (one source's length distribution must not set another's ranks).
    * Same scale shape as the global form, per segment: ranks come from
    * the (segment, value) HISTOGRAM — windows partitioned by segment
    * touch only that segment's value domain, never its rows — and join
    * back on the (segment, value) key. Null values keep a null rank;
    * null SEGMENTS are a real segment (null-safe join key), ranked
    * within themselves; a single-value segment ranks 0. */
  def quantileNormalizeBy(df: DataFrame, segmentCol: String, valueCol: String): DataFrame = {
    val hist = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(segmentCol).as("__seg"), col(valueCol).as("__s"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window
      .partitionBy(col("__seg"))
      .orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window
      .partitionBy(col("__seg"))
      .orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranks = hist
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .select(
        col("__seg"),
        col("__s"),
        when(col("__n") <= 1, lit(0L))
          .otherwise(expr("((__cum - __c) * 1000000L) div (__n - 1)"))
          .as("pr_ppm"),
      )
    df.join(
      ranks,
      col(segmentCol) <=> col("__seg") && col(valueCol) === col("__s"),
      "left",
    ).drop("__seg", "__s")
  }

  /** Key-skew report — the diagnostic a shuffle-planner (or the human
    * about to pick salting factors) actually reads: the `topK` heaviest
    * keys with their exact counts and corpus shares in ppm, alongside
    * the global (total rows, distinct keys, max count) context. A key
    * whose `share_ppm` is large relative to 10⁶/shuffle-partitions is
    * the straggler; the repo's salted-join and `chooseBanding` probes
    * are the automated consumers of exactly this measurement.
    *
    * Cost: one map-combinable count aggregate keyed by `keyCol`, a
    * TakeOrdered top-k over the count table (k-bounded, no global
    * sort), and a broadcast 1-row totals join. The rank window runs
    * over the k already-selected rows — single-partition by
    * construction and bounded by k, never by the corpus. */
  def skewReport(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val cnt = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("cnt"))
    val tot = cnt.agg(
      sum(col("cnt")).cast("long").as("total"),
      count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"),
    )
    cnt
      .orderBy(col("cnt").desc, col("key").asc)
      .limit(topK)
      .withColumn("rank", row_number().over(Window.orderBy(col("cnt").desc, col("key").asc)))
      .crossJoin(broadcast(tot))
      .select(
        col("rank"),
        col("key"),
        col("cnt"),
        expr("(cnt * 1000000) div total").as("share_ppm"),
        col("total"),
        col("n_keys"),
        col("max_cnt"),
      )
  }

  /** `df` with `valueCol` clamped into its [ppmLo, ppmHi] nearest-rank
    * quantile envelope (broadcast 1-row threshold join — the clamp
    * stays a scan-local projection). */
  /** Weighted nearest-rank quantiles per group — the "median price
    * weighted by volume" family (CBO statistics, fairness reporting):
    * for each requested ppm, the smallest value whose cumulative
    * WEIGHT reaches ⌈W·ppm/10⁶⌉. Same discipline as
    * [[quantileThresholds]]: the window runs over the per-group
    * (value → Σweight) HISTOGRAM, bounded by the value domain, never
    * the corpus; one exchange on (group, value) for the histogram,
    * one on group for the windows (both integer-exact, no
    * interpolation — nearest-rank is the only cross-engine-safe
    * definition).
    *
    * `ppms` maps ppm → output column name. Values and weights must be
    * integral (cents/counts); null values are excluded, null weights
    * count 0. */
  def weightedQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      weightCol: String,
      ppms: Seq[(Long, String)],
  ): DataFrame = {
    require(ppms.nonEmpty, "need at least one quantile")
    val keys = groupCols.map(col)
    val hist = df
      .filter(col(valueCol).isNotNull)
      .groupBy((keys :+ col(valueCol).as("__s")): _*)
      .agg(sum(coalesce(col(weightCol), lit(0L))).cast("long").as("__c"))
    val wCum = Window
      .partitionBy(keys: _*)
      .orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(keys: _*)
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
    val sels = ppms.map { case (ppm, name) => rankSelect(ppm, name) }
    cum.groupBy(keys: _*).agg(sels.head, sels.tail: _*)
  }

  /** Pearson χ² test of homogeneity over a two-way contingency table
    * (is the `colCol` distribution the same across `rowCol` groups?) —
    * the categorical-drift cousin of [[distributionDrift]]. Per cell:
    * observed count, expected share, and the χ² contribution
    * (o − e)²/e = (o·N − r·c)² / (N·r·c), all in integer ppm through
    * DECIMAL(38,0) (o·N squares past 2⁶³ at any real corpus size), so
    * the statistic is bit-identical across engines — the caller
    * compares `chi2_ppm` against the critical value for its df.
    *
    * One keyed aggregate over the corpus to the |rows|·|cols| cell
    * table; margins and the total come from windows over that bounded
    * table (zero extra corpus passes). Absent cells contribute
    * (0 − e)²/e = r·c·10⁶ div (N·N)... — NOT emitted: the synthetic
    * grid would need a cross join of the margins; for the drift-
    * monitoring use the observed-cell statistic is the standard
    * report, and a missing cell in one cohort still shows up through
    * the other cohort's inflated contributions. */
  def chi2Homogeneity(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df
      .groupBy(col(rowCol).as("row_v"), col(colCol).as("col_v"))
      .agg(count(lit(1)).as("o"))
    val wr   = Window.partitionBy("row_v")
    val wc   = Window.partitionBy("col_v")
    val wAll = Window.partitionBy()
    cells
      .withColumn("__r", sum(col("o")).over(wr))
      .withColumn("__c", sum(col("o")).over(wc))
      .withColumn("__n", sum(col("o")).over(wAll))
      .withColumn("e_ppm", expr("(CAST(__r AS DECIMAL(38,0)) * __c * 1000000) div __n"))
      .withColumn(
        "contrib_ppm",
        expr(
          """CAST((CAST(o AS DECIMAL(38,0)) * __n - CAST(__r AS DECIMAL(38,0)) * __c)
            |  * (CAST(o AS DECIMAL(38,0)) * __n - CAST(__r AS DECIMAL(38,0)) * __c)
            |  * 1000000
            |  div (CAST(__n AS DECIMAL(38,0)) * __r * __c) AS BIGINT)""".stripMargin
        ),
      )
      .withColumn("chi2_ppm", sum(col("contrib_ppm")).over(wAll))
      .select("row_v", "col_v", "o", "e_ppm", "contrib_ppm", "chi2_ppm")
  }

  /** The shared spine of the two-sample rank tests ([[ksStatistic]],
    * [[mannWhitneyU]]): the per-value histogram of the two samples with
    * inclusive cumulatives — columns `(__s, __c1, __c2, __cum1,
    * __cum2)` — computed with the TIERED cumulative discipline
    * ([[Blocking.snmRank]]'s shape, not [[cumOf]]'s): a two-sample
    * test's value column is typically continuous (prices, latencies),
    * so its histogram is corpus-sized and an unpartitioned running-sum
    * window would gather the whole corpus onto one task. Instead:
    * range-partition the histogram, per-partition running sums in
    * parallel, then broadcast the P-row per-partition totals back as
    * exclusive offsets; the one unpartitioned window orders those P
    * rows. The localCheckpoint freezes `spark_partition_id()` so the
    * offsets aggregate and the base join provably read one
    * materialization (the [[Blocking.snmRank]] rule). */
  private def twoSampleCum(df: DataFrame, valueCol: Column, sampleIs1: Column): DataFrame = {
    // complete-case on BOTH columns (the spearmanStats discipline): a
    // null sample flag must not silently become a sample-2 observation
    val hist = df
      .filter(valueCol.isNotNull && sampleIs1.isNotNull)
      .groupBy(valueCol.as("__s"))
      .agg(
        sum(when(sampleIs1, 1L).otherwise(0L)).as("__c1"),
        sum(when(sampleIs1, 0L).otherwise(1L)).as("__c2"),
      )
    tieredCum(hist, Seq("__c1", "__c2"))
  }

  /** The tiered-cumulative core under [[twoSampleCum]] and
    * [[midrank2]]: given a histogram keyed by `__s` with count columns
    * `countCols`, append an inclusive cumulative `__cum<i>` per count
    * column WITHOUT any corpus-sized window — range-partition on
    * `__s`, per-partition running sums in parallel, then broadcast the
    * P-row per-partition totals back as exclusive offsets (only those
    * P rows see an unpartitioned window). The localCheckpoint freezes
    * `spark_partition_id()` so the offsets aggregate and the base join
    * provably read one materialization (the [[Blocking.snmRank]]
    * rule). */
  private def tieredCum(hist: DataFrame, countCols: Seq[String]): DataFrame = {
    val parts = hist.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = hist
      .repartitionByRange(parts, col("__s"))
      .withColumn("__pid", spark_partition_id())
      // lazy (r17): the offsets broadcast build materializes it; the
      // rank join-back then reads the persisted blocks — the eager cut
      // paid one scheduled job per tieredCum call
      .localCheckpoint(eager = false)
    val wLocal = Window
      .partitionBy(col("__pid"))
      .orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = countCols.zipWithIndex.foldLeft(ranged) { case (d, (c, i)) =>
      d.withColumn(s"__l${i + 1}", sum(col(c)).over(wLocal))
    }
    val wOff = Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = countCols.zipWithIndex
      .foldLeft(
        local
          .groupBy(col("__pid"))
          .agg(
            sum(col(countCols.head)).as("__t1"),
            countCols.tail.zipWithIndex.map { case (c, i) => sum(col(c)).as(s"__t${i + 2}") }: _*,
          )
      ) { case (d, (_, i)) =>
        d.withColumn(s"__off${i + 1}", coalesce(sum(col(s"__t${i + 1}")).over(wOff), lit(0L)))
      }
      .select(col("__pid") +: countCols.indices.map(i => col(s"__off${i + 1}")): _*)
    local
      .join(broadcast(offsets), Seq("__pid"))
      .select(
        (col("__s") +: countCols.map(col)) ++
          countCols.indices.map(i => (col(s"__off${i + 1}") + col(s"__l${i + 1}")).as(s"__cum${i + 1}")): _*
      )
  }

  /** [[tieredCum]] GENERALIZED to a grouping key: cumulative counts of
    * `__s` WITHIN each `__k` group, still without any corpus-sized
    * window — range-partition on (__k, __s) (a segment may span
    * partitions; within one partition a (pid, __k) pair is
    * contiguous), per-(pid, key) running sums in parallel, then the
    * per-(pid, key) totals — P·|keys| rows — see a key-partitioned
    * window over pid for the exclusive offsets. The per-key analogue
    * every `-By` operator family (kaplanMeierBy, conformal-by) builds
    * its rank statistics on. */
  private def tieredCumBy(hist: DataFrame, countCols: Seq[String]): DataFrame = {
    val parts = hist.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = hist
      .repartitionByRange(parts, col("__k"), col("__s"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = false) // lazy — the [[tieredCum]] r17 note
    val wLocal = Window
      .partitionBy(col("__pid"), col("__k"))
      .orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = countCols.zipWithIndex.foldLeft(ranged) { case (d, (c, i)) =>
      d.withColumn(s"__l${i + 1}", sum(col(c)).over(wLocal))
    }
    val wOff =
      Window.partitionBy(col("__k")).orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = countCols.zipWithIndex
      .foldLeft(
        local
          .groupBy(col("__pid"), col("__k"))
          .agg(
            sum(col(countCols.head)).as("__t1"),
            countCols.tail.zipWithIndex.map { case (c, i) => sum(col(c)).as(s"__t${i + 2}") }: _*,
          )
      ) { case (d, (_, i)) =>
        d.withColumn(s"__off${i + 1}", coalesce(sum(col(s"__t${i + 1}")).over(wOff), lit(0L)))
      }
      .select(col("__pid") +: col("__k") +: countCols.indices.map(i => col(s"__off${i + 1}")): _*)
    local
      .join(broadcast(offsets), Seq("__pid", "__k"))
      .select(
        (col("__k") +: col("__s") +: countCols.map(col)) ++
          countCols.indices.map(i =>
            (col(s"__off${i + 1}") + col(s"__l${i + 1}")).as(s"__cum${i + 1}")): _*
      )
  }

  /** Spearman rank correlation between two integral columns — the
    * monotone-association coefficient computed EXACTLY: tie-averaged
    * midranks (doubled, so integral: 2·cum − c + 1 for a tie group of
    * c values at inclusive cumulative cum) come from ONE stacked
    * tiered histogram rank ([[tieredCumBy]], both columns in one
    * pass), the moments accumulate in DECIMAL(38,0), and
    * only the final division/sqrt touches doubles — both engines
    * replay the identical IEEE sequence over identical exact integers,
    * so even the DOUBLE output is bit-stable. COMPLETE-CASE semantics
    * (rows with either value null are dropped BEFORE ranking — ranks
    * must range over the same row set on both sides). Corpus-scale
    * posture: two histogram groupBys + two co-partitioned join-backs +
    * one aggregation; no all-pairs stage (that is [[kendallCounts]]'s
    * bounded-table province), no corpus-sized window.
    * Output: 1 row `(n, num, den_x, den_y, rho)` where
    * num = n·Σrxry − Σrx·Σry over doubled midranks and
    * rho = num / √(den_x·den_y). */
  def spearmanStats(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val rows = df
      .filter(xCol.isNotNull && yCol.isNotNull)
      .select(xCol.as("__x"), yCol.as("__y"))
    // ONE keyed histogram + ONE tiered cumulative for BOTH columns
    // (r16 optimization round, guide §2.3/2.4): the per-column
    // midrank2 form paid two histogram exchanges and two tiered
    // pipelines (each with its own range-sampling pass and
    // checkpoint); stacking (__k ∈ x/y, __s = value) ranks both
    // columns in one. Midranks are computed within __k, so the values
    // are identical to the per-column form; both columns are integral
    // by contract, so the stack's common long type is lossless. The
    // lookup is checkpointed: both filter-consumers read one
    // materialization.
    val hist = rows
      .select(
        stack(lit(2), lit("x"), col("__x").cast("long"), lit("y"), col("__y").cast("long"))
          .as(Seq("__k", "__s")))
      .groupBy(col("__k"), col("__s"))
      .agg(count(lit(1)).as("__c"))
    val mr = tieredCumBy(hist, Seq("__c"))
      .select(col("__k"), col("__s"), (lit(2L) * col("__cum1") - col("__c") + 1L).as("__mr2"))
      .localCheckpoint(eager = false)
    val rx =
      mr.filter(col("__k") === "x").select(col("__s").as("__x"), col("__mr2").as("__rx2"))
    val ry =
      mr.filter(col("__k") === "y").select(col("__s").as("__y"), col("__mr2").as("__ry2"))
    rows
      .join(rx, Seq("__x"))
      .join(ry, Seq("__y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__rx2").cast("decimal(38,0)")).as("__sx"),
        sum(col("__ry2").cast("decimal(38,0)")).as("__sy"),
        sum(expr("CAST(__rx2 AS DECIMAL(38,0)) * __rx2")).as("__sxx"),
        sum(expr("CAST(__ry2 AS DECIMAL(38,0)) * __ry2")).as("__syy"),
        sum(expr("CAST(__rx2 AS DECIMAL(38,0)) * __ry2")).as("__sxy"),
      )
      .select(
        col("n"),
        // Each MOMENT is cast to double individually (all < 2^53 at
        // oracle scale, hence exact), and the differences/products run
        // in IEEE doubles — bit-identical in any IEEE engine. Casting
        // the DECIMAL differences instead would hit values > 2^53
        // where DuckDB's two-step hugeint→double conversion can be
        // 1 ulp off a correctly-rounded single conversion.
        expr("CAST(n AS DOUBLE) * CAST(__sxy AS DOUBLE) - CAST(__sx AS DOUBLE) * CAST(__sy AS DOUBLE)")
          .as("num"),
        expr("CAST(n AS DOUBLE) * CAST(__sxx AS DOUBLE) - CAST(__sx AS DOUBLE) * CAST(__sx AS DOUBLE)")
          .as("den_x"),
        expr("CAST(n AS DOUBLE) * CAST(__syy AS DOUBLE) - CAST(__sy AS DOUBLE) * CAST(__sy AS DOUBLE)")
          .as("den_y"),
        expr(
          """(CAST(n AS DOUBLE) * CAST(__sxy AS DOUBLE) - CAST(__sx AS DOUBLE) * CAST(__sy AS DOUBLE)) /
            |  sqrt((CAST(n AS DOUBLE) * CAST(__sxx AS DOUBLE) - CAST(__sx AS DOUBLE) * CAST(__sx AS DOUBLE)) *
            |       (CAST(n AS DOUBLE) * CAST(__syy AS DOUBLE) - CAST(__sy AS DOUBLE) * CAST(__sy AS DOUBLE)))""".stripMargin
        ).as("rho"),
      )
  }

  /** Cramér's V strength-of-association summary over a contingency
    * table — the [0, 1]-normalized companion to [[chi2Homogeneity]]
    * (χ² says "dependent"; V says HOW dependent, comparably across
    * table shapes — the feature-selection ranking statistic for
    * categorical columns). Integer-exact: v2_ppm = χ²_ppm div
    * (n·min(r−1, c−1)), i.e. V²·10⁶ floored. Runs entirely on the
    * bounded cells frame [[chi2Homogeneity]] already computes.
    * Output: 1 row `(n, n_rows, n_cols, chi2_ppm, v2_ppm)`; v2_ppm is
    * null for a degenerate (single-row or single-column) table. */
  def cramersV(df: DataFrame, rowCol: String, colCol: String): DataFrame =
    chi2Homogeneity(df, rowCol, colCol)
      .agg(
        sum(col("o")).cast("long").as("n"),
        countDistinct(col("row_v")).as("n_rows"),
        countDistinct(col("col_v")).as("n_cols"),
        max(col("chi2_ppm")).as("chi2_ppm"),
      )
      .select(
        col("n"),
        col("n_rows"),
        col("n_cols"),
        col("chi2_ppm"),
        when(
          least(col("n_rows"), col("n_cols")) > 1L,
          expr("chi2_ppm div (n * least(n_rows - 1, n_cols - 1))"),
        ).as("v2_ppm"),
      )

  /** Two-sample Kolmogorov–Smirnov statistic between the `sampleIs1`
    * and complement rows of `valueCol` — the standard distribution-
    * equality test for drift gates (did this cohort's spend
    * distribution shift?). Exact cross-multiplied integers: D =
    * max |F₁ − F₂| is reported as `d_num` = max |cum₁·n₂ − cum₂·n₁|
    * over the value domain with denominator n₁·n₂, plus the floored
    * ppm quotient — no floats, any engine replays it bit-for-bit.
    * Products run through DECIMAL(38,0); one corpus scan (the
    * histogram), then everything runs on the tiered cumulative.
    * Output: 1 row `(n1, n2, d_num, d_ppm)`. */
  def ksStatistic(df: DataFrame, valueCol: Column, sampleIs1: Column): DataFrame = {
    val cum = twoSampleCum(df, valueCol, sampleIs1)
    // Totals as a broadcast 1-row aggregate, NOT an unpartitioned
    // window over the (corpus-sized, continuous-domain) cumulative.
    val totals = cum.agg(max(col("__cum1")).as("__n1"), max(col("__cum2")).as("__n2"))
    cum
      .crossJoin(broadcast(totals))
      .agg(
        max(col("__n1")).cast("long").as("n1"),
        max(col("__n2")).cast("long").as("n2"),
        max(
          abs(
            expr("CAST(__cum1 AS DECIMAL(38,0)) * __n2 - CAST(__cum2 AS DECIMAL(38,0)) * __n1")
          )
        ).as("__dn"),
      )
      .select(
        col("n1"),
        col("n2"),
        col("__dn").cast("long").as("d_num"),
        expr("CAST((CAST(__dn AS DECIMAL(38,0)) * 1000000) div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)")
          .as("d_ppm"),
      )
  }

  /** Mann–Whitney U (rank-sum) test between the same two samples —
    * the nonparametric location test that pairs with [[ksStatistic]]'s
    * shape test. Tie-exact via the DOUBLED midrank: a tie group of t
    * values starting after cumulative c has midrank c + (t+1)/2, so
    * 2·midrank = 2c + t + 1 stays integral; R₁·2 = Σ c₁·(2c + t + 1)
    * and U₁·2 = R₁·2 − n₁(n₁+1). U₂ follows from U₁ + U₂ = n₁n₂.
    * Same tiered-cumulative spine, same DECIMAL(38,0) discipline.
    * Output: 1 row `(n1, n2, u1_x2, u2_x2)`. */
  def mannWhitneyU(df: DataFrame, valueCol: Column, sampleIs1: Column): DataFrame =
    twoSampleCum(df, valueCol, sampleIs1)
      .select(
        col("__c1"),
        col("__cum1"),
        col("__cum2"),
        expr(
          """CAST(__c1 AS DECIMAL(38,0)) *
            |  (2 * (__cum1 + __cum2 - __c1 - __c2) + (__c1 + __c2) + 1)""".stripMargin
        ).as("__r1x2"),
      )
      .agg(
        max(col("__cum1")).cast("long").as("n1"),
        max(col("__cum2")).cast("long").as("n2"),
        sum(col("__r1x2")).as("__rs"),
      )
      .select(
        col("n1"),
        col("n2"),
        expr("CAST(__rs - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS BIGINT)").as("u1_x2"),
        expr(
          """CAST(2 * CAST(n1 AS DECIMAL(38,0)) * n2 -
            |  (__rs - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) AS BIGINT)""".stripMargin
        ).as("u2_x2"),
      )

  /** Kendall rank correlation counts between two aligned integral
    * series — the robust monotone-association test (outlier-immune
    * where Pearson's r is not; the standard check that two metrics
    * co-move). All-pairs over the input, so the CONTRACT is a
    * BOUNDED table (aligned time-series grids, per-entity rollups —
    * the [[chi2Homogeneity]]/PCA dimension-bounded class, never a raw
    * corpus); the pair generation is an explicit self-join on
    * `idCol` inequality, |df|²/2 comparisons. Output: 1 row of exact
    * integers `(n_pairs, nc, nd, tie_x, tie_y, tie_xy, tau_num)`
    * with tau_num = nc − nd; the caller forms tau-b's denominator
    * √((n₀−tx)(n₀−ty)) itself — no floats are emitted. */
  def kendallCounts(df: DataFrame, idCol: String, xCol: String, yCol: String): DataFrame = {
    val a = df.select(col(idCol).as("__ia"), col(xCol).as("__xa"), col(yCol).as("__ya"))
    val b = df.select(col(idCol).as("__ib"), col(xCol).as("__xb"), col(yCol).as("__yb"))
    val pairs = a.join(b, col("__ia") < col("__ib"))
    val sx = signum(col("__xa") - col("__xb"))
    val sy = signum(col("__ya") - col("__yb"))
    pairs
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(sx * sy > 0, 1L).otherwise(0L)).as("nc"),
        sum(when(sx * sy < 0, 1L).otherwise(0L)).as("nd"),
        sum(when(sx === 0 && sy =!= 0, 1L).otherwise(0L)).as("tie_x"),
        sum(when(sy === 0 && sx =!= 0, 1L).otherwise(0L)).as("tie_y"),
        sum(when(sx === 0 && sy === 0, 1L).otherwise(0L)).as("tie_xy"),
      )
      .select(
        col("n_pairs"),
        col("nc"),
        col("nd"),
        col("tie_x"),
        col("tie_y"),
        col("tie_xy"),
        (col("nc") - col("nd")).as("tau_num"),
      )
  }

  /** SPLIT-CONFORMAL prediction interval for an integral value column
    * (Vovk et al. 2005; the distribution-free uncertainty wrapper every
    * model-serving pipeline bolts on): a deterministic hash split
    * carves out a calibration set; the predictor here is the
    * calibration mean (the simplest regressor — the op's value is the
    * INTERVAL machinery, which wraps any point predictor); the
    * interval half-width q is the ⌈(n_cal+1)·(1−α)⌉-th smallest
    * absolute residual (nearest rank over the bounded residual
    * histogram — no sort); coverage is then measured on the held-out
    * test rows. Finite-sample guarantee: coverage ≥ 1−α in
    * expectation, exactly the property the gate's test-side census
    * audits.
    *
    * Exact integers throughout: mean and residuals in ×10⁶ ppm with
    * floored division, the conformal rank ⌈(n_cal+1)·(10⁶−α_ppm)/10⁶⌉;
    * when that rank exceeds n_cal the interval is infinite by the
    * standard convention — q_ppm is NULL and every test row counts as
    * covered. Scale shape: one map-only hash split, two 1-row
    * aggregates, one residual histogram with the TIERED cumulative
    * ([[tieredCum]] — residuals inherit the value column's
    * near-continuous domain, so the [[cumOf]] single-task window would
    * be a scale-killer here), one map-only test census — nothing
    * corpus-sized moves except the scans.
    *
    * @return 1 row: (n_cal, n_test, mean_ppm, q_ppm, n_covered,
    *         coverage_ppm). */
  def conformalMeanInterval(
      df: DataFrame,
      idCol: Column,
      valueCol: Column,
      alphaPpm: Long,
      calPpm: Long = 500000L,
  ): DataFrame = {
    require(0L < alphaPpm && alphaPpm < 1000000L, s"alphaPpm in (0, 1e6), got $alphaPpm")
    require(0L < calPpm && calPpm < 1000000L, s"calPpm in (0, 1e6), got $calPpm")
    val rows = df
      .filter(valueCol.isNotNull)
      .select(idCol.as("__id"), valueCol.cast("long").as("__v"))
      .withColumn("__cal", Sampling.hashPpm(col("__id")) < calPpm)
    val calHist = rows
      .filter(col("__cal"))
      .groupBy(col("__v").as("v"))
      .agg(count(lit(1)).as("c"))
    conformalFromValueHist(calHist, rows.filter(!col("__cal")).select("__v"), alphaPpm)
  }

  /** The conformal machinery over a prebuilt calibration VALUE
    * HISTOGRAM `(v, c)` — the form a STREAMING calibration maintains
    * (per-value counts are mergeable state where raw rows are not):
    * mean, residual histogram (weighted by the counts), tiered-rank
    * conformal quantile, then the coverage census over `testVals`
    * (one column `__v`). [[conformalMeanInterval]] routes through this
    * after its hash split, so the batch gate and the streaming twin
    * share one code path. */
  def conformalFromValueHist(
      calHist0: DataFrame,
      testVals: DataFrame,
      alphaPpm: Long,
  ): DataFrame = {
    require(0L < alphaPpm && alphaPpm < 1000000L, s"alphaPpm in (0, 1e6), got $alphaPpm")
    // the histogram feeds the mean AND the residual pass; lazy
    // checkpoint materializes it inside the calMean job (one corpus
    // aggregation instead of two — r16 optimization round)
    val calHist = calHist0.localCheckpoint(eager = false)
    val calMean = calHist
      .agg(
        sum(col("c")).as("n_cal"),
        expr("CAST(sum(CAST(v AS DECIMAL(38,0)) * c) * 1000000 div sum(c) AS BIGINT)")
          .as("mean_ppm"),
      )
      // lazy (r17): both consumers read it through broadcast builds —
      // the first build materializes and persists, the second reads
      // cache; the eager cut paid a scheduled job for a 1-row frame
      .localCheckpoint(eager = false)
    val resid = calHist
      .crossJoin(broadcast(calMean))
      .select(expr("abs(v * 1000000L - mean_ppm)").as("__s"), col("c").as("__rc"))
      .groupBy("__s") // residuals of distinct values can collide after abs
      .agg(sum(col("__rc")).as("__c"))
    // consumed by the total AND the rank selection — one window pass
    val cum = tieredCum(resid, Seq("__c")).localCheckpoint(eager = false)
    val tot = cum.agg(max(col("__cum1")).as("__n"))
    val q = cum
      .crossJoin(broadcast(tot))
      .agg(
        min(
          when(
            col("__cum1") >= expr(s"((__n + 1) * ${1000000L - alphaPpm}L + 999999L) div 1000000L"),
            col("__s"),
          )
        ).as("q_ppm")
      )
    testVals
      .crossJoin(broadcast(calMean))
      .crossJoin(broadcast(q))
      .agg(
        max(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_test"),
        max(col("mean_ppm")).as("mean_ppm"),
        max(col("q_ppm")).as("q_ppm"),
        sum(
          when(col("q_ppm").isNull || expr("abs(__v * 1000000L - mean_ppm)") <= col("q_ppm"), 1L)
            .otherwise(0L)
        ).as("n_covered"),
      )
      .withColumn("coverage_ppm", expr("n_covered * 1000000L div n_test"))
  }

  /** PER-SEGMENT split-conformal intervals — [[conformalMeanInterval]]
    * generalized by a segment key the way `kaplanMeierBy` generalized
    * `kaplanMeier`: each segment gets its own calibration mean,
    * residual quantile, and held-out coverage row, which is the
    * production form (a global interval over heterogeneous cohorts is
    * mis-calibrated for every one of them; the per-cohort coverage
    * report is what a serving dashboard audits). Same exact-integer
    * arithmetic; the residual rank runs through [[tieredCumBy]] so a
    * segment's near-continuous residual domain never sees a
    * corpus-sized window. The segment key is a DIMENSION by contract
    * (priorities, regions, model versions — the per-(partition, key)
    * offset table broadcasts at P·|keys| rows). Segments are reported
    * when they have BOTH calibration and test rows (a segment that
    * hash-splits entirely to one side has no measurable interval).
    * Output: one row per key, same columns as the global form. */
  def conformalMeanIntervalBy(
      df: DataFrame,
      keyCol: Column,
      idCol: Column,
      valueCol: Column,
      alphaPpm: Long,
      calPpm: Long = 500000L,
  ): DataFrame = {
    require(0L < alphaPpm && alphaPpm < 1000000L, s"alphaPpm in (0, 1e6), got $alphaPpm")
    require(0L < calPpm && calPpm < 1000000L, s"calPpm in (0, 1e6), got $calPpm")
    val rows = df
      .filter(valueCol.isNotNull && keyCol.isNotNull)
      .select(keyCol.as("__k"), idCol.as("__id"), valueCol.cast("long").as("__v"))
      .withColumn("__cal", Sampling.hashPpm(col("__id")) < calPpm)
    val calHist = rows
      .filter(col("__cal"))
      .groupBy(col("__k"), col("__v").as("v"))
      .agg(count(lit(1)).as("c"))
    conformalFromValueHistBy(calHist, rows.filter(!col("__cal")).select("__k", "__v"), alphaPpm)
  }

  /** The per-key conformal machinery over a prebuilt calibration value
    * histogram `(__k, v, c)` and test rows `(__k, __v)` — the keyed
    * sibling of [[conformalFromValueHist]] (one code path for the
    * batch gate and any streaming per-key calibration state). */
  def conformalFromValueHistBy(
      calHist0: DataFrame,
      testVals: DataFrame,
      alphaPpm: Long,
  ): DataFrame = {
    require(0L < alphaPpm && alphaPpm < 1000000L, s"alphaPpm in (0, 1e6), got $alphaPpm")
    // lazy-checkpointed: the mean AND the residual pass read one
    // materialization (the [[conformalFromValueHist]] r16 shape)
    val calHist = calHist0.localCheckpoint(eager = false)
    val calMean = calHist
      .groupBy("__k")
      .agg(
        sum(col("c")).as("n_cal"),
        expr("CAST(sum(CAST(v AS DECIMAL(38,0)) * c) * 1000000 div sum(c) AS BIGINT)")
          .as("mean_ppm"),
      )
      // lazy (r17): both consumers read it through broadcast builds —
      // the first build materializes and persists, the second reads
      // cache; the eager cut paid a scheduled job for a 1-row frame
      .localCheckpoint(eager = false)
    val resid = calHist
      .join(broadcast(calMean), Seq("__k"))
      .select(col("__k"), expr("abs(v * 1000000L - mean_ppm)").as("__s"), col("c").as("__rc"))
      .groupBy("__k", "__s") // residuals of distinct values can collide after abs
      .agg(sum(col("__rc")).as("__c"))
    // consumed by the per-key total AND the rank selection
    val cum = tieredCumBy(resid, Seq("__c")).localCheckpoint(eager = false)
    val tot = cum.groupBy("__k").agg(max(col("__cum1")).as("__n"))
    val q = cum
      .join(broadcast(tot), Seq("__k"))
      .groupBy("__k")
      .agg(
        min(
          when(
            col("__cum1") >= expr(s"((__n + 1) * ${1000000L - alphaPpm}L + 999999L) div 1000000L"),
            col("__s"),
          )
        ).as("q_ppm")
      )
    testVals
      .join(broadcast(calMean), Seq("__k"))
      .join(broadcast(q), Seq("__k"))
      .groupBy("__k")
      .agg(
        max(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_test"),
        max(col("mean_ppm")).as("mean_ppm"),
        max(col("q_ppm")).as("q_ppm"),
        sum(
          when(col("q_ppm").isNull || expr("abs(__v * 1000000L - mean_ppm)") <= col("q_ppm"), 1L)
            .otherwise(0L)
        ).as("n_covered"),
      )
      .withColumn("coverage_ppm", expr("n_covered * 1000000L div n_test"))
      .withColumnRenamed("__k", "key")
  }

  /** RFM SEGMENTATION (Recency / Frequency / Monetary quintile scores)
    * — the classic customer-value stratification, computed exactly at
    * corpus scale: one groupBy builds the per-entity (r, f, m) raw
    * triple, then each dimension is scored 1..k by equi-depth rank
    * over its own value histogram ([[bucketLookup]] — tiered, so the
    * continuous monetary domain is safe), and the three scores
    * concatenate into the familiar `rfm` cell (r·100 + f·10 + m for
    * k ≤ 9). Ties share a score (rank-of-value, not row shuffling), so
    * the segmentation is deterministic and engine-replayable. Higher
    * is better on every axis: recency scores the LATEST-activity
    * entities high, frequency/monetary score volume high.
    * Output: `(entity, r_raw, f_raw, m_raw, r_score, f_score,
    * m_score, rfm)`. */
  def rfmScores(
      df: DataFrame,
      entityCol: Column,
      epochDayCol: Column,
      valueCol: Column,
      k: Int = 5,
  ): DataFrame =
    quantileScores(
      df,
      entityCol,
      Seq(
        "r" -> max(epochDayCol),
        "f" -> count(lit(1)),
        "m" -> sum(valueCol.cast("decimal(38,0)")).cast("long"),
      ),
      k,
    ).withColumnRenamed("cell", "rfm")

  /** [[rfmScores]] generalized to ANY list of score dimensions — the
    * reusable n-dimensional quantile-scoring operator: one groupBy
    * builds the per-entity raw vector from the caller's aggregate
    * expressions, each dimension is scored 1..k by equi-depth rank
    * over its OWN value histogram ([[bucketLookup]] — tiered, safe on
    * continuous domains), and the scores concatenate into a decimal
    * `cell` (first dimension = most significant digit). Ties share a
    * score (rank-of-value, not row shuffling) — deterministic and
    * engine-replayable. Output: `(entity, <dim>_raw..., <dim>_score...,
    * cell)` in the dims order. */
  def quantileScores(
      df: DataFrame,
      entityCol: Column,
      dims: Seq[(String, Column)],
      k: Int = 5,
  ): DataFrame = {
    require(1 <= k && k <= 9, s"k must be in [1, 9] for the concatenated cell, got $k")
    require(dims.nonEmpty && dims.size <= 18, s"need 1..18 dims (cell is a LONG), got ${dims.size}")
    // duplicate dim names would produce colliding <n>_raw/<n>_score
    // columns and silently wrong self-joins; reserved names collide
    // with the output spine
    require(
      dims.map(_._1).distinct.size == dims.size,
      s"dim names must be distinct, got ${dims.map(_._1).mkString(", ")}",
    )
    require(
      !dims.exists(d => d._1 == "entity" || d._1 == "cell"),
      "dim names 'entity' and 'cell' are reserved for the output spine",
    )
    val base = df
      .groupBy(entityCol.as("entity"))
      .agg(
        dims.head._2.as(s"${dims.head._1}_raw"),
        dims.tail.map { case (n, c) => c.as(s"${n}_raw") }: _*,
      )
      .localCheckpoint(eager = false) // feeds the stacked histogram + the join spine
    // ONE keyed histogram + ONE tiered cumulative for ALL dims (r16
    // optimization round, guide §2.3/2.4): the per-dim bucketLookup
    // form paid |dims| histogram exchanges and |dims| tiered-cumulative
    // pipelines over the same checkpointed base; stacking the dims into
    // (__k = dim, __s = value) runs the identical rank arithmetic once.
    // Dim values are integral by contract (every caller passes BIGINT
    // aggregates — the concatenated `cell` demands it), so the stack's
    // common long type is lossless and the join-back keys compare
    // exactly.
    val stackArgs =
      dims.flatMap { case (n, _) => Seq(lit(n), col(s"${n}_raw").cast("long")) }
    val hist = base
      .select(stack(lit(dims.size) +: stackArgs: _*).as(Seq("__k", "__s")))
      .filter(col("__s").isNotNull)
      .groupBy(col("__k"), col("__s"))
      .agg(count(lit(1)).as("__c"))
    val cum = tieredCumBy(hist, Seq("__c")).localCheckpoint(eager = false)
    val totals = cum.groupBy(col("__k")).agg(max(col("__cum1")).as("__n"))
    val lookup = cum
      .join(broadcast(totals), Seq("__k"))
      .select(
        col("__k"),
        col("__s"),
        (expr(s"(__cum1 - __c) * ${k}L div __n") + 1L).as("__score"),
      )
    val joined = dims.foldLeft(base) { case (acc, (n, _)) =>
      acc.join(
        lookup
          .filter(col("__k") === n)
          .select(col("__s").as(s"${n}_raw"), col("__score").as(s"${n}_score")),
        Seq(s"${n}_raw"),
      )
    }
    val cell = dims.map(d => col(s"${d._1}_score")).reduceLeft(_ * 10L + _)
    joined.select(
      col("entity") +:
        (dims.map(d => col(s"${d._1}_raw")) ++
          dims.map(d => col(s"${d._1}_score")) :+ cell.as("cell")): _*
    )
  }

  /** Poisson(1) inverse-CDF thresholds as 6-hex-char strings (24-bit
    * scale) — the weight of a row in one bootstrap resample is the
    * smallest k whose CDF exceeds the row's 6-hex md5 window, compared
    * LEXICOGRAPHICALLY (fixed-width lowercase hex orders identically
    * to its numeric value, in Spark's and DuckDB's binary collations
    * alike — no integer parse needed: measured, `conv()` per draw
    * costs more than the comparison ladder). Shared verbatim by the
    * Spark side and the SQL oracle fragment so they can only drift
    * visibly. Beyond the table the weight caps at 8 (P ≈ 1e-5). */
  private val poissonCdfHex: Seq[String] =
    Seq("5e2d58", "bc5ab1", "eb715e", "fb2397", "ff1025", "ffd90f", "fffa8b", "ffff54")

  private def poissonWeight(hexWin: Column): Column =
    poissonCdfHex.zipWithIndex.foldRight(lit(poissonCdfHex.size.toLong)) { case ((t, k), e) =>
      when(hexWin < t, k.toLong).otherwise(e)
    }

  /** The same CDF cut points as integers over [0, 2²⁴) — the
    * [[bootstrapMeanCiXx]] ladder compares a 24-bit hash window
    * numerically instead of a hex window lexicographically (identical
    * distribution: the hex thresholds ARE these integers printed in
    * base 16). */
  private val poissonCdfInt: Seq[Long] =
    poissonCdfHex.map(java.lang.Long.parseLong(_, 16))

  private def poissonWeightInt(win24: Column): Column =
    poissonCdfInt.zipWithIndex.foldRight(lit(poissonCdfInt.size.toLong)) { case ((t, k), e) =>
      when(win24 < t, k.toLong).otherwise(e)
    }

  /** The oracle fragment replaying [[poissonWeight]] (kept beside it,
    * the [[Layout.zorderSql]] convention). `hexWin` is a 6-hex-char
    * window of an md5 digest. */
  def poissonWeightSql(hexWin: String): String =
    poissonCdfHex.zipWithIndex
      .map { case (t, k) => s"WHEN $hexWin < '$t' THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${poissonCdfHex.size} END")

  /** POISSON BOOTSTRAP confidence interval for the mean of an integral
    * column — the bootstrap that actually runs at 100 TB: instead of
    * materializing B rank-indexed resamples (each needing a global
    * row-rank lookup), every row independently enters resample b with
    * weight ~ Poisson(1) (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012). One map-only pass amplifies
    * each row B times (b = 0..B−1), the weight is a deterministic
    * md5-derived inverse-CDF draw keyed on (row id, b) — so any engine
    * replays the exact resamples — and each resample reduces to one
    * combinable aggregation. The CI is nearest-rank quantiles over the
    * B-row mean table (bounded: |B| rows, the [[cumOf]] contract).
    * All arithmetic integral: means are floored ppm quotients.
    * Output: 1 row `(n, b_count, mean_ppm, ci_lo_ppm, ci_hi_ppm)`;
    * a resample whose total weight is 0 yields a null mean and is
    * excluded from the quantile table (b_count counts the rest). */
  def bootstrapMeanCi(
      df: DataFrame,
      idCol: Column,
      valueCol: Column,
      b: Int,
      ppmLo: Long,
      ppmHi: Long,
  ): DataFrame = {
    require(b >= 1 && b % 5 == 0, s"resample count must be a positive multiple of 5, got $b")
    require(0L <= ppmLo && ppmLo <= ppmHi && ppmHi <= 1000000L, s"bad ppm range $ppmLo..$ppmHi")
    val rows = df.filter(valueCol.isNotNull).select(idCol.as("__id"), valueCol.as("__v"))
    // TWO-STAGE amplification: the md5 digest is the dominant cost
    // (measured ~17 s for 30M digests at local[32]; conv() parse adds
    // more) — so one digest feeds FIVE resamples via its five disjoint
    // 6-hex windows, and the weight ladder compares the window
    // lexicographically (no integer parse at all). 5× fewer digests,
    // zero conv: measured 49 s → ~7 s on the 200×150k gate shape.
    // Per-window weights computed INLINE on the (row × group) frame and
    // partially aggregated BEFORE any unpivot (r16 optimization round,
    // guide §2.3 — aggregate before you amplify): the posexplode form
    // materialized 5× more generator rows just to route each window
    // through the same groupBy. Identical resamples: the same digest
    // windows feed the same ladder, summed per (group, window) and
    // unpivoted to the same B-row means table.
    val winSums = rows
      .select(col("__id"), col("__v"), explode(sequence(lit(0), lit(b / 5 - 1))).as("__g"))
      .withColumn(
        "__dig",
        md5(concat(col("__id").cast("string"), lit(":"), col("__g").cast("string"))),
      )
      .select(
        col("__v") +: col("__g") +:
          (0 until 5).map(j =>
            poissonWeight(substring(col("__dig"), j * 6 + 1, 6)).as(s"__w$j")): _*
      )
      .groupBy(col("__g"))
      .agg(
        expr("sum(CAST(__w0 AS DECIMAL(38,0)) * __v)").as("__wv0"),
        (Seq(sum(col("__w0")).as("__ws0")) ++
          (1 until 5).flatMap(j =>
            Seq(
              expr(s"sum(CAST(__w$j AS DECIMAL(38,0)) * __v)").as(s"__wv$j"),
              sum(col(s"__w$j")).as(s"__ws$j"),
            ))): _*
      )
    bootstrapCiFromWindowSums(rows, winSums, 5, ppmLo, ppmHi)
  }

  /** xxhash64 production twin of [[bootstrapMeanCi]] — same Poisson
    * bootstrap, same two-stage amplification, but the uniform draw
    * comes from xxhash64 (measured ~17× cheaper per digest than md5's
    * string build + MessageDigest) harvesting TWO disjoint 24-bit
    * windows per hash and comparing them numerically against the same
    * CDF cut points. No cross-engine replay exists (DuckDB has no
    * xxhash64), so this is the production path and the md5 form the
    * oracle twin — the simhash64Xx / simhash64_md5 convention. */
  def bootstrapMeanCiXx(
      df: DataFrame,
      idCol: Column,
      valueCol: Column,
      b: Int,
      ppmLo: Long,
      ppmHi: Long,
  ): DataFrame = {
    require(b >= 1 && b % 2 == 0, s"resample count must be a positive multiple of 2, got $b")
    require(0L <= ppmLo && ppmLo <= ppmHi && ppmHi <= 1000000L, s"bad ppm range $ppmLo..$ppmHi")
    val rows = df.filter(valueCol.isNotNull).select(idCol.as("__id"), valueCol.as("__v"))
    // Inline per-window weights + pre-unpivot partial aggregation (the
    // [[bootstrapMeanCi]] r16 shape): identical resamples, half the
    // generator rows.
    val winSums = rows
      .select(col("__id"), col("__v"), explode(sequence(lit(0), lit(b / 2 - 1))).as("__g"))
      .withColumn("__h", xxhash64(col("__id"), col("__g")))
      .select(
        col("__v"),
        col("__g"),
        poissonWeightInt(expr("__h & 16777215")).as("__w0"),
        poissonWeightInt(expr("(__h >> 24) & 16777215")).as("__w1"),
      )
      .groupBy(col("__g"))
      .agg(
        expr("sum(CAST(__w0 AS DECIMAL(38,0)) * __v)").as("__wv0"),
        sum(col("__w0")).as("__ws0"),
        expr("sum(CAST(__w1 AS DECIMAL(38,0)) * __v)").as("__wv1"),
        sum(col("__w1")).as("__ws1"),
      )
    bootstrapCiFromWindowSums(rows, winSums, 2, ppmLo, ppmHi)
  }

  /** Shared reduction of the bootstrap twins: `winSums` carries one
    * row per digest group with `windows` resamples' pre-aggregated
    * (`__wv<j>` = Σw·v in DECIMAL(38,0), `__ws<j>` = Σw) pairs; the
    * unpivot to the B-row means table, nearest-rank CI, and the
    * broadcast 1-row point estimate follow. */
  private def bootstrapCiFromWindowSums(
      rows: DataFrame,
      winSums: DataFrame,
      windows: Int,
      ppmLo: Long,
      ppmHi: Long,
  ): DataFrame = {
    // one (group) row carries `windows` resamples' (Σw·v, Σw) pairs;
    // the unpivot to the B-row means table happens AFTER the corpus
    // aggregation, so it amplifies B/windows rows, not the corpus
    val stackArgs = (0 until windows).flatMap(j => Seq(col(s"__wv$j"), col(s"__ws$j")))
    val means = winSums
      .select(stack(lit(windows) +: stackArgs: _*).as(Seq("__wv", "__wsum")))
      .select(expr("CAST(__wv * 1000000 div nullif(__wsum, 0) AS BIGINT)").as("__s"))
      .filter(col("__s").isNotNull)
    val ci = cumOf(means.groupBy(col("__s")).agg(count(lit(1)).as("__c")))
      .agg(
        max(col("__n")).as("b_count"),
        rankSelect(ppmLo, "ci_lo_ppm"),
        rankSelect(ppmHi, "ci_hi_ppm"),
      )
    rows
      .agg(
        count(lit(1)).as("n"),
        expr("CAST(sum(CAST(__v AS DECIMAL(38,0))) * 1000000 div count(1) AS BIGINT)")
          .as("mean_ppm"),
      )
      .crossJoin(broadcast(ci))
      .select(col("n"), col("b_count"), col("mean_ppm"), col("ci_lo_ppm"), col("ci_hi_ppm"))
  }

  /** Decision-stump GINI feature screening — the first pass of any
    * feature-selection / data-curation sweep: for each CATEGORICAL
    * feature, the class-weighted Gini impurity after splitting on it
    * (lower = the feature alone separates the label better). Exact
    * integers with a DEFINED flooring order (per-value term floored by
    * its own count, the sum floored by n — the oracle replays the same
    * order): t_v = (n_v² − pos_v² − neg_v²)·10⁶ div n_v, split gini =
    * Σt_v div n. ONE aggregation pass for all features (the feature
    * list unpivots map-side via `stack`); the cells frame is bounded
    * by Σ|domain(f)| — the [[chi2Homogeneity]] bounded-domain
    * contract, this is not for continuous features (bucketize first).
    * Output: one row per feature `(feature, n_values, n, pos,
    * gini_split_ppm)`. */
  /** ISOTONIC CALIBRATION (pool-adjacent-violators, Ayer et al. 1955)
    * of a binary label against a bucketed score — the deterministic,
    * optimization-free calibration every classifier-thresholding
    * pipeline wants beside its AUC (Platt scaling needs a solver;
    * isotonic needs only exact rational pool merges): the empirical
    * rate per score bucket is replaced by the best monotone
    * NON-DECREASING fit, pools merging while the left rate ≥ the right
    * rate, compared by CROSS-MULTIPLICATION (pos·n' ≥ pos'·n — no
    * float division anywhere, ties merge, so pool boundaries are
    * deterministic and engine-replayable).
    *
    * Scale shape: ONE map-side-combinable histogram aggregation over
    * the corpus; the PAVA sweep runs on the DRIVER over the collected
    * bucket histogram — bounded by the CALLER'S QUANTIZATION, not the
    * corpus (the bucket column is a score quantized to a
    * dimension-sized grid; the d×d-Gram / driver-CC precedent), and
    * guarded by an explicit probe so a mis-called corpus-keyed column
    * fails loudly instead of OOMing the driver. Left-to-right
    * immediate merging yields the unique isotonic fit; the fitted rate
    * is ppm with floored division.
    *
    * @return one row per final pool:
    *         (bucket_lo, bucket_hi, pos, n, rate_ppm). */
  def isotonicFit(
      df: DataFrame,
      bucketCol: Column,
      labelCol: Column,
      maxBuckets: Int = 100000,
  ): DataFrame =
    isotonicFromHist(
      df.filter(bucketCol.isNotNull && labelCol.isNotNull)
        .groupBy(bucketCol.as("b"))
        .agg(sum(when(labelCol, 1L).otherwise(0L)).as("pos"), count(lit(1)).as("n")),
      maxBuckets,
    )

  /** The PAVA machinery over a prebuilt bucket histogram `(b, pos, n)`
    * — the form a STREAMING calibration maintains (per-bucket pos/n
    * counts are mergeable state where raw rows are not; the
    * [[conformalFromValueHist]] pattern). [[isotonicFit]] routes
    * through this after its aggregation, so the batch gate and any
    * streaming twin share one code path. */
  def isotonicFromHist(hist: DataFrame, maxBuckets: Int = 100000): DataFrame = {
    val spark = hist.sparkSession
    // ONE action: the sorted collect is capped at maxBuckets + 1, so
    // the guard costs no second corpus aggregation and a mis-called
    // corpus-keyed column still fails loudly before the driver holds
    // more than maxBuckets + 1 rows
    val rows = hist.orderBy("b").limit(maxBuckets + 1).collect()
    require(
      rows.length <= maxBuckets,
      s"isotonicFit collected > maxBuckets=$maxBuckets buckets — " +
        "quantize the score column to a bounded grid before calling",
    )
    val pools = pavaPools(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    import scala.jdk.CollectionConverters._
    spark
      .createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          pools.map(p => org.apache.spark.sql.Row(p._1, p._2, p._3, p._4)).asJava
        ),
        org.apache.spark.sql.types.StructType(poolFields),
      )
      .withColumn("rate_ppm", expr("pos * 1000000L div n"))
  }

  /** The PAVA sweep shared by [[isotonicFromHist]] and [[isotonicFitBy]]:
    * bucket histogram `(b, pos, n)` in ascending `b` → pools
    * `(lo, hi, pos, n)`, on a stack merged while rate(prev) ≥ rate(top).
    * BigInt cross-product: pooled pos·n can reach corpus scale, so the
    * comparison must not wrap (the oracle compares in HUGEINT). */
  private def pavaPools(hist: Iterable[(Long, Long, Long)]): Seq[(Long, Long, Long, Long)] = {
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    hist.foreach { case (b, pos, n) =>
      stack += ((b, b, pos, n))
      var merging = true
      while (merging && stack.size >= 2) {
        val top  = stack(stack.size - 1)
        val prev = stack(stack.size - 2)
        if (BigInt(prev._3) * top._4 >= BigInt(top._3) * prev._4) {
          stack.remove(stack.size - 1)
          stack(stack.size - 1) = (prev._1, top._2, prev._3 + top._3, prev._4 + top._4)
        } else merging = false
      }
    }
    stack.toSeq
  }

  private def poolFields = {
    import org.apache.spark.sql.types._
    Seq("bucket_lo", "bucket_hi", "pos", "n").map(StructField(_, LongType, nullable = false))
  }

  /** PER-SEGMENT isotonic calibration — [[isotonicFit]] generalized by
    * a segment key (the conformal-by / kaplanMeierBy pattern): each
    * cohort gets its own monotone fit, which is the production form (a
    * pooled calibration curve is wrong for every heterogeneous cohort
    * — per-model-version or per-market curves are what a serving
    * dashboard deploys). One (key, bucket) histogram aggregation; the
    * driver sweep runs per key over the collected rows, bounded by
    * `maxBuckets` TOTAL (key × bucket) rows behind the same loud
    * probe. Same exact cross-multiplication merges, so pools are
    * deterministic per cohort.
    *
    * @return one row per (key, pool):
    *         (key, bucket_lo, bucket_hi, pos, n, rate_ppm). */
  def isotonicFitBy(
      df: DataFrame,
      keyCol: Column,
      bucketCol: Column,
      labelCol: Column,
      maxBuckets: Int = 100000,
  ): DataFrame = {
    val spark = df.sparkSession
    val hist = df
      .filter(keyCol.isNotNull && bucketCol.isNotNull && labelCol.isNotNull)
      .groupBy(keyCol.cast("string").as("k"), bucketCol.as("b"))
      .agg(sum(when(labelCol, 1L).otherwise(0L)).as("pos"), count(lit(1)).as("n"))
    val rows = hist.orderBy("k", "b").limit(maxBuckets + 1).collect()
    require(
      rows.length <= maxBuckets,
      s"isotonicFitBy collected > maxBuckets=$maxBuckets (key x bucket) rows — " +
        "quantize the score column or reduce the key cardinality",
    )
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    rows.groupBy(_.getString(0)).foreach { case (k, rs) =>
      pavaPools(rs.sortBy(_.getLong(1)).map(r => (r.getLong(1), r.getLong(2), r.getLong(3))))
        .foreach(p => out += org.apache.spark.sql.Row(k, p._1, p._2, p._3, p._4))
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    spark
      .createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](out.asJava),
        StructType(StructField("key", StringType, nullable = false) +: poolFields),
      )
      .withColumn("rate_ppm", expr("pos * 1000000L div n"))
  }

  def stumpGini(df: DataFrame, labelCol: Column, features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "need at least one feature column")
    val stackArgs = features.flatMap { case (n, c) => Seq(lit(n), c.cast("string")) }
    val cells = df
      .filter(labelCol.isNotNull)
      .select(
        labelCol.as("__y"),
        stack(lit(features.size) +: stackArgs: _*).as(Seq("feature", "__v")),
      )
      .groupBy(col("feature"), col("__v"))
      .agg(count(lit(1)).as("__n"), sum(when(col("__y"), 1L).otherwise(0L)).as("__pos"))
    cells
      .select(
        col("feature"),
        col("__n"),
        col("__pos"),
        expr(
          """CAST((CAST(__n AS DECIMAL(38,0)) * __n
            |  - CAST(__pos AS DECIMAL(38,0)) * __pos
            |  - CAST(__n - __pos AS DECIMAL(38,0)) * (__n - __pos))
            |  * 1000000 div __n AS BIGINT)""".stripMargin
        ).as("__t"),
      )
      .groupBy(col("feature"))
      .agg(
        count(lit(1)).as("n_values"),
        sum(col("__n")).as("n"),
        sum(col("__pos")).as("pos"),
        expr("sum(__t) div sum(__n)").as("gini_split_ppm"),
      )
  }
}
