package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.ShiftRight
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}

/** Count-Min Sketch (Cormode & Muthukrishnan 2005) — the mergeable
  * frequency sketch behind heavy-hitter counting at stream/corpus
  * scale: d hash rows × w buckets of counters; a key's estimate is the
  * MIN of its d bucket counters, an overestimate by at most εN with
  * probability 1−δ (ε = e/w, δ = e^−d).
  *
  * Deliberately NOT a custom `TypedImperativeAggregate`: building row
  * i of the sketch is exactly `groupBy(hashᵢ(key)) count(*)`, so the
  * whole d×w sketch is d hash aggregations — and Spark's partial
  * aggregation IS the sketch's mergeability (map-side counters merge
  * by addition, the same property the paper proves). A bespoke
  * imperative aggregate would re-implement what the engine already
  * does codegen'd, and would hide the counters from the optimizer.
  * Output is a (row, bucket, cnt) table of at most d·w rows —
  * driver-safe by construction, joinable, unionable (sketch merge =
  * union + re-sum), and persistable as a tiny parquet.
  *
  * Hashes are md5-prefix buckets (the [[Sampling.hashFraction]]
  * family): no RNG, no engine-specific hash — any SQL engine replays
  * the exact sketch and therefore the exact estimates, which upgrades
  * the usual "within εN" sketch check to a full bit-equality oracle.
  */
object Cms {

  /** Bucket of `key` in hash row `i`: 24-bit md5 prefix of "i:key"
    * mod `width`. A null key coalesces to '' (the [[Sampling.hash24]]
    * convention) so null-key occurrences land in a REAL bucket —
    * md5(null) would bucket them under NULL, which [[estimate]]'s
    * equi-join can never match, and a null key with a nonzero true
    * count would read estimate 0, violating the CMS one-sided-error
    * guarantee. */
  def bucketOf(i: Column, key: Column, width: Int): Column =
    conv(
      substring(
        md5(concat(i.cast("string"), lit(":"), coalesce(key.cast("string"), lit("")))),
        1, 6),
      16, 10)
      .cast("long") % width

  /** Build the d×w sketch over `df.keyCol` (one count per occurrence):
    * returns (row, bucket, cnt) — d map-side-combinable hash
    * aggregations in one pass (the explode is row-local). */
  def sketch(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, s"need positive depth/width, got $depth x $width")
    df.select(col(keyCol).as("__k"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("row"), col("__k"))
      .groupBy(col("row"), bucketOf(col("row"), col("__k"), width).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Size ladder for [[sketchAuto]] — the [[Similarity.chooseBanding]]
    * pattern applied to sketches (r9 verdict item 4 / backlog (b)):
    * (depth, width) from a cardinality probe instead of caller-fixed
    * constants that silently saturate when the key space grows.
    *
    * The rung invariant is D/w ≤ 1/16 until the width cap: the
    * expected number of OTHER keys sharing a given bucket stays below
    * 1/16 per hash row, so the chance that ALL depth rows of a key are
    * inflated — the only way its min-estimate exceeds its true count —
    * is ≲ (1/16)^4 ≈ 1.5e-5: at the laddered size, estimates are not
    * just εN-bounded but almost always EXACT, the operating point
    * heavy-hitter reporting wants. Past the cap (w = 2¹⁸, chosen so
    * depth·width stays a few-MB broadcastable table — the property
    * estimate()'s broadcast join and streaming complete-mode emission
    * both rest on) depth grows to 5 instead and the classical bound
    * takes over: error ≤ e·N/2¹⁸ with probability 1 − e⁻⁵, sublinear
    * in corpus size, which is the sketch's whole contract. Rungs are
    * coarse powers of two over an exact-integer probe, so a SQL oracle
    * replays the selection with a CASE — no float-log cross-engine
    * hazard. */
  def chooseCmsSize(distinct: Long): (Int, Int) =
    if (distinct <= 16L) (4, 256) //      the fixed-size demo/gate config
    else if (distinct <= 256L) (4, 4096)
    else if (distinct <= 4096L) (4, 65536)
    else (5, 262144)

  /** [[sketch]] with (depth, width) chosen by a cardinality probe.
    * `exactProbe = true` uses COUNT(DISTINCT) — deterministic in any
    * engine, what the differential gate needs; the default HLL probe
    * (`approx_count_distinct`, ~2% rsd) is one cheap pass at corpus
    * scale, and a ±2% wobble cannot straddle the coarse rungs except
    * exactly at a boundary, where both neighboring rungs are sound.
    * Returns the sketch plus the chosen dimensions (callers need them
    * for [[estimate]]). */
  def sketchAuto(
      df: DataFrame,
      keyCol: String,
      exactProbe: Boolean = false,
  ): (DataFrame, Int, Int) = {
    val probeCol =
      if (exactProbe) countDistinct(col(keyCol)) else approx_count_distinct(col(keyCol))
    val distinct = df.agg(probeCol.as("d")).head().getLong(0)
    val (depth, width) = chooseCmsSize(distinct)
    (sketch(df, keyCol, depth, width), depth, width)
  }

  /** Point estimates for `keys` (a column named `keyCol`) against a
    * built sketch: min over the d rows of the key's bucket counter.
    * Keys absent from the corpus still get their (over)estimate, as
    * CMS defines. The join is keyed on (row, bucket) — sketch side is
    * d·w rows, broadcastable at any corpus size. */
  def estimate(
      sk: DataFrame,
      keys: DataFrame,
      keyCol: String,
      depth: Int,
      width: Int,
  ): DataFrame =
    keys
      .select(col(keyCol))
      .distinct()
      .select(col(keyCol), explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .withColumn("bucket", bucketOf(col("row"), col(keyCol), width))
      .join(broadcast(sk), Seq("row", "bucket"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))

}

/** Bloom filter (Bloom 1970) as a relational artifact — the MEMBERSHIP
  * sketch completing the trio with [[Cms]] (frequency) and [[Kmv]]
  * (distinct/overlap): k md5-derived bit positions per key; a key is
  * reported present iff all k bits are set. No false negatives ever;
  * false-positive rate ≈ (1 − e^(−k·n/m))^k. The filter is stored as
  * the SET-BIT table (≤ min(m, k·n) rows — a DataFrame that joins,
  * unions (filter merge = union-distinct), and persists as parquet),
  * exactly how a runtime-filter build side materializes. Hashes are
  * the [[Cms.bucketOf]] md5 family, so any SQL engine replays the
  * filter bit-for-bit and the oracle checks EXACT flag equality, not
  * a rate bound.
  */
object Bloom {

  /** Bit position of `key` in hash row `i` (null keys coalesce to ''
    * — the [[Cms.bucketOf]] convention). */
  def bitOf(i: Column, key: Column, bits: Int): Column =
    Cms.bucketOf(i, key, bits)

  /** Build the set-bit table over `df.keyCol`: one `bit` column,
    * distinct. One pass, map-side-combinable distinct. */
  def build(df: DataFrame, keyCol: String, bits: Int, k: Int): DataFrame = {
    require(bits >= 1 && k >= 1, s"need positive bits/k, got $bits bits x $k hashes")
    df.select(col(keyCol).as("__k"))
      .select(explode(sequence(lit(0), lit(k - 1))).as("i"), col("__k"))
      .select(bitOf(col("i"), col("__k"), bits).as("bit"))
      .distinct()
  }

  /** Probe `keys.keyCol` against a built filter: `might_contain` is
    * true iff all k bit positions are set. The join is keyed on the
    * bit index — the filter side is ≤ min(bits, k·n) rows,
    * broadcastable by construction at any corpus size (that is the
    * sketch's contract; a filter too big to broadcast is a filter
    * mis-sized for its key count). */
  def mightContain(
      bloom: DataFrame,
      keys: DataFrame,
      keyCol: String,
      bits: Int,
      k: Int,
  ): DataFrame =
    keys
      .select(col(keyCol))
      .distinct()
      .select(col(keyCol), explode(sequence(lit(0), lit(k - 1))).as("i"))
      .withColumn("bit", bitOf(col("i"), col(keyCol), bits))
      .join(broadcast(bloom.withColumn("__set", lit(1))), Seq("bit"), "left")
      .groupBy(col(keyCol))
      .agg((count(lit(1)) === sum(coalesce(col("__set"), lit(0)))).as("might_contain"))

  /** The filter as a packed bitmask: ⌈bits/64⌉ longs, word w holding
    * bits [64w, 64w+63] (bit b → word b div 64, position b mod 64).
    * Packing is one aggregation of the set-bit table (bit_or partials
    * merge map-side); the collect is bounded by bits/64 — a property
    * of the FILTER SIZE, not the key count, which is what makes this
    * the driver-sized artifact Spark's own runtime-filter machinery
    * ships to scans. */
  def packedMask(bloom: DataFrame, bits: Int): Array[Long] = {
    val words = (bits + 63) / 64
    val packed = bloom
      .groupBy(expr("bit div 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(bit % 64 AS INT)))").as("mask"))
      .collect()
      .map(r => r.getAs[Long]("w").toInt -> r.getAs[Long]("mask"))
      .toMap
    Array.tabulate(words)(w => packed.getOrElse(w, 0L))
  }

  /** Scan-local membership predicate against a [[packedMask]] — the
    * semijoin-reduction form: `keyCol`'s k bit positions tested with
    * bit arithmetic over the literal mask array, fully codegen'd, no
    * join in the plan. Guaranteed true for every key that was in the
    * build side (no false negatives), so `fact.filter(pred)` before a
    * join never changes the join's result — it only deletes rows the
    * probe would discard anyway (minus the false-positive residue the
    * real join still removes). */
  def memberPredicate(keyCol: Column, mask: Array[Long], bits: Int, k: Int): Column = {
    val arr = typedlit(mask.toSeq)
    (0 until k)
      .map { i =>
        val bit = bitOf(lit(i), keyCol, bits)
        // shiftright's Column API takes a constant shift only
        val word = element_at(arr, (bit / 64).cast("int") + 1)
        column(ShiftRight(expression(word), expression((bit % 64).cast("int"))))
          .bitwiseAND(lit(1L)) === lit(1L)
      }
      .reduce(_ && _)
  }
}

/** K-minimum-values sketch (Bar-Yossef et al. 2002; the multi-set form
  * per Beyer et al., SIGMOD 2007) — the DISTINCT-COUNT companion to
  * [[Cms]]'s frequency sketch, and the one sketch family that estimates
  * SET OVERLAP between corpora without ever joining them: each side is
  * summarized to its k smallest distinct hash values
  * ([[graft.functions.KMinAgg]], bounded state, map-side combinable),
  * and every estimate — distinct count per side, union, Jaccard,
  * intersection — is arithmetic over the two k-arrays. That is the
  * train-vs-eval contamination triage shape at 100 TB: two single-pass
  * scans produce two k-row artifacts, and the comparison cost is
  * O(k log k) on ONE ROW, independent of corpus size (the exact
  * [[graft.ops.Dedup.decontaminate]] join remains the adjudicator once
  * triage says the overlap is material).
  *
  * Estimators (all integer arithmetic): with h₍ₖ₎ the k-th smallest
  * distinct hash in a space of 2⁴⁸, D̂ = (k−1)·2⁴⁸ div h₍ₖ₎ — the
  * unbiased KMV estimator — and an UNSATURATED sketch (< k distinct
  * hashes) is not an estimate at all but the exact distinct count. The
  * union of two bottom-k sketches, re-cut to its k smallest, is exactly
  * the bottom-k sketch of the union (the closure property the whole
  * construction exists for), and every member of that union sketch that
  * belongs to both input corpora is individually detectable (h ∈ K ∧
  * h ∈ A ⇒ h ∈ Kₐ, because fewer than k union hashes precede it), so
  * the Jaccard estimate is the exact fraction |K ∩ Kₐ ∩ K_b| / |K| of
  * a k-sample without replacement.
  *
  * Hashes are 48-bit md5 prefixes (the [[Sampling.hash24]] family, 24
  * more bits so the order statistic has negligible collision mass at
  * billions of distinct keys; 48 = 12 hex chars keeps `(k−1)·2⁴⁸`
  * comfortably inside BIGINT for k ≤ 2¹⁴) — no RNG, no engine hash, so
  * a SQL engine replays sketch AND estimates bit-for-bit: the usual
  * ±1/√k sketch check upgrades to a full equality oracle.
  */
object Kmv {

  val SpaceBits = 48
  val Space: Long = 1L << SpaceBits

  /** 48-bit md5-prefix hash; null keys coalesce to '' (the
    * [[Sampling.hash24]] convention — a null key is a key). */
  def hash48(key: Column): Column =
    conv(substring(md5(coalesce(key.cast("string"), lit(""))), 1, 12), 16, 10).cast("long")

  /** Bottom-k sketch of `df.keyCol`: ONE row holding the ascending
    * array of the k smallest distinct hashes. */
  def sketch(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= (1 << 14), s"kmv needs 2 <= k <= 16384, got $k")
    df.select(graft.functions.KMinAgg.k_min_distinct(k)(hash48(col(keyCol))).as("kmv"))
  }

  /** Distinct/overlap estimates between two corpora keyed on `keyCol`:
    * one row of `est_a`, `est_b`, `est_union`, `inter_in_k` (the raw
    * both-sides members of the union sketch), `jaccard_ppm`, and
    * `est_intersection`. Work: one [[sketch]] pass per side; the
    * combination is a 1×1-row cross join. */
  def overlap(a: DataFrame, b: DataFrame, keyCol: String, k: Int): DataFrame = {
    // D̂ of one sketch column: exact when unsaturated, (k−1)·2⁴⁸ div h₍ₖ₎
    // when full (integral div — DuckDB's // floors the same way on the
    // non-negative operands hashes are)
    def estSql(c: String) =
      s"CASE WHEN size($c) < $k THEN CAST(size($c) AS BIGINT)" +
        s" ELSE ${(k - 1L) * Space}L div element_at($c, $k) END"
    sketch(a, keyCol, k)
      .select(col("kmv").as("ka"))
      .crossJoin(sketch(b, keyCol, k).select(col("kmv").as("kb")))
      .withColumn("ku", expr(s"slice(array_sort(array_union(ka, kb)), 1, $k)"))
      .withColumn("m", expr("CAST(size(array_intersect(array_intersect(ku, ka), kb)) AS BIGINT)"))
      .select(
        expr(estSql("ka")).as("est_a"),
        expr(estSql("kb")).as("est_b"),
        expr(estSql("ku")).as("est_union"),
        col("m").as("inter_in_k"),
        // |K| = 0 only when both corpora are empty: zero overlap, not 0/0
        expr("CASE WHEN size(ku) = 0 THEN 0L ELSE (m * 1000000L) div size(ku) END")
          .as("jaccard_ppm"),
        expr(
          s"CASE WHEN size(ku) = 0 THEN 0L ELSE (m * (${estSql("ku")})) div size(ku) END"
        ).as("est_intersection"),
      )
  }
}
