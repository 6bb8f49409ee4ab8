package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering keys.
  *
  * Sorting a table by ONE column gives file-level min/max pruning on
  * that column alone; queries filtering the second column still scan
  * every file. Interleaving the bits of k columns into one Morton key
  * and range-partitioning on it bounds EVERY dimension's span within
  * each file to ~2^(-w/k) of its domain (w key bits) — the
  * space-filling-curve layout behind Delta/Iceberg `OPTIMIZE ZORDER`
  * and the reason a 100 TB table can serve selective filters on two
  * or three independent columns from a small fraction of its files
  * (Morton 1966; Bayer's UB-tree line of work).
  *
  * The key is a pure integer bit-shuffle of the input columns — no
  * sampling, no RNG — so it is bit-reproducible in any engine with
  * shift/AND arithmetic, and the oracle can replay it verbatim.
  * Inputs must already be non-negative integers in [0, 2^bits); map
  * values into rank space first (truncate, bucketize, or min-max
  * scale) — deliberately the caller's choice, because the right rank
  * transform (log-scale bytes, epoch-day dates, ...) is domain
  * knowledge a layout primitive should not guess.
  */
object Layout {

  /** Morton key: bit i of column j lands at position i·k + j (k =
    * number of columns). Total key width bits·k must fit a long. */
  def zorderKey(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 2, s"z-order needs >= 2 columns, got $k")
    require(bits >= 1 && bits * k <= 62, s"bits*cols must fit a long, got $bits*$k")
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce(_ + _) // disjoint bit positions: + == OR
  }

  /** The oracle fragment replaying [[zorderKey]] in ANSI-ish SQL
    * (DuckDB `>>`/`&`/`<<`), kept beside the implementation so the
    * two can only drift visibly. */
  def zorderSql(cols: Seq[String], bits: Int): String = {
    val k = cols.size
    (for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield s"(((CAST($c AS BIGINT) >> $i) & 1) << ${i * k + j})").mkString(" + ")
  }

  /** HILBERT curve key for two columns — the locality-preserving
    * sibling of [[zorderKey]]: consecutive key values are always
    * Manhattan-adjacent cells (no Z-order "jumps" across the grid), so
    * range scans over the key touch tighter min/max envelopes in both
    * clustered dimensions — measurably fewer files for the same
    * selectivity on skewed range predicates. Classic iterative xy→d
    * walk (Hilbert 1891; the standard C formulation from Warren's
    * Hacker's Delight / Wikipedia): per bit level s = 2^(bits−1)..1,
    * accumulate the quadrant and rotate/reflect the frame.
    *
    * Implemented as ONE codegen'd `aggregate` fold over the bit
    * levels with the whole (x, y, d) state PACKED into a single long
    * (x + P·y + P²·d, P = 2^bits) — pure integer div/mod/CASE
    * arithmetic, no UDF, bit-identical in any engine; [[hilbertSql]]
    * replays it verbatim. Inputs must be non-negative integers in
    * [0, 2^bits) (the [[zorderKey]] rank-space contract);
    * bits ≤ 15 keeps d + state inside a long. */
  def hilbertKey(xCol: Column, yCol: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 15, s"bits must be in [1, 15], got $bits")
    val p = 1L << bits
    val levels = (bits - 1 to 0 by -1).map(i => lit(1L << i))
    val init = (yCol.cast("long") * p + xCol.cast("long")).cast("long")
    // The fold keeps `st` a lambda VARIABLE (one node, referenced many
    // times) — an unrolled column fold would re-inline the whole prior
    // step per reference and blow the expression tree up ~10^bits.
    // Unpacks by the CONSTANT P are shifts/masks (exact at any
    // magnitude); the only divisions by the VARIABLE s happen on
    // values < 2^15, where double division + truncation is exact.
    val folded = aggregate(
      array(levels: _*),
      init,
      (st, s) => {
        val x  = st.bitwiseAND(lit(p - 1))
        val y  = shiftright(st, bits).bitwiseAND(lit(p - 1))
        val d  = shiftright(st, 2 * bits)
        val rx = (x / s).cast("long") % 2
        val ry = (y / s).cast("long") % 2
        val quad = when(rx === 0 && ry === 0, 0L)
          .when(rx === 0 && ry === 1, 1L)
          .when(rx === 1 && ry === 1, 2L)
          .otherwise(3L)
        val d2 = d + s * s * quad
        val xF = when(ry === 0, when(rx === 1, lit(p - 1) - y).otherwise(y)).otherwise(x)
        val yF = when(ry === 0, when(rx === 1, lit(p - 1) - x).otherwise(x)).otherwise(y)
        (d2 * p + yF) * p + xF
      },
    )
    shiftright(folded, 2 * bits) // the x and y residues drop out
  }

  /** The oracle fragment replaying [[hilbertKey]] in DuckDB SQL
    * (list_reduce over the bit levels with the same packed-long
    * state), kept beside the implementation so the two can only
    * drift visibly. */
  def hilbertSql(x: String, y: String, bits: Int): String = {
    val p      = 1L << bits
    val levels = (bits - 1 to 0 by -1).map(i => 1L << i).mkString(", ")
    // no LET in lambdas: every subterm is inlined
    val xT  = s"(st % $p)"
    val yT  = s"((st // $p) % $p)"
    val dT  = s"(st // ${p * p})"
    val rxT = s"(($xT // s) % 2)"
    val ryT = s"(($yT // s) % 2)"
    val quad =
      s"(CASE WHEN $rxT = 0 AND $ryT = 0 THEN 0 WHEN $rxT = 0 THEN 1 WHEN $ryT = 1 THEN 2 ELSE 3 END)"
    val d2 = s"($dT + s * s * $quad)"
    val xF =
      s"(CASE WHEN $ryT = 0 THEN (CASE WHEN $rxT = 1 THEN ${p - 1} - $yT ELSE $yT END) ELSE $xT END)"
    val yF =
      s"(CASE WHEN $ryT = 0 THEN (CASE WHEN $rxT = 1 THEN ${p - 1} - $xT ELSE $xT END) ELSE $yT END)"
    s"""(list_reduce(
       |  list_prepend(CAST($y AS BIGINT) * $p + CAST($x AS BIGINT), [${levels}]),
       |  (st, s) -> (($d2 * $p + $yF) * $p + $xF)) // ${p * p})""".stripMargin
  }

  /** Small-file compaction planning — the other half of table
    * maintenance beside Z-order clustering ([[zorderKey]];
    * Delta/Iceberg `OPTIMIZE`'s bin-packing step): assign each file to a compaction bin so every
    * bin's total size approaches `targetBytes`.
    *
    * Files are packed greedily in (size DESC, id) order per partition
    * — deterministic, so the plan is engine-replayable — with bin =
    * ⌊preceding-cumulative-size / target⌋: consecutive files share a
    * bin until the target fills. The window runs over the FILE-STATS
    * table (metadata: one row per file, millions of rows for a 100 TB
    * table, never the data itself) partitioned by the table's
    * partition column, so no single-partition global sort appears at
    * any table size.
    *
    * @return input rows plus `bin` (0-based within each partition). */
  def compactionBins(
      files: DataFrame,
      partCol: String,
      idCol: String,
      sizeCol: String,
      targetBytes: Long,
  ): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCol)
      .orderBy(col(sizeCol).desc, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // Integer `div`, not float divide-and-floor: a cumulative byte
    // count past 2^53 would lose exactness through a double.
    files
      .withColumn("__cum", coalesce(sum(col(sizeCol)).over(w), lit(0L)))
      .withColumn("bin", expr(s"__cum div ${targetBytes}L"))
      .drop("__cum")
  }

  /** RANGE-PARTITION SPLIT POINTS from a mergeable quantile sketch —
    * what `repartitionByRange` does with driver-side reservoir
    * sampling, re-expressed as ONE bounded aggregation: a
    * [[graft.functions.KllAgg]] sketch over the sort key, then the
    * n−1 interior quantiles i/n evaluated per split index from the
    * same finished sketch. Why this matters at 100 TB: Spark's
    * RangePartitioner samples `sampleSizePerPartition · partitions`
    * rows to the DRIVER per job; the sketch is a few KB per partial,
    * merges map-side, is PERSISTABLE (compute once, reuse across the
    * day's layout jobs on the same key), and carries the KLL ≈1/k
    * rank-error bound, so every output file's row count lands within
    * εN of N/n by construction. The split values are sketch-dependent
    * (within the bound, not bit-pinned) — acceptance checks balance,
    * not values, exactly like the engine's own sampled splits.
    *
    * @return n−1 rows (split_idx 1..n−1, split_value) ascending; rows
    *         with key < split_value belong to files 0..split_idx−1. */
  def rangeSplitPoints(df: DataFrame, keyCol: Column, n: Int, k: Int = 200): DataFrame = {
    require(n >= 2, s"need at least 2 partitions, got $n")
    df.agg(graft.functions.KllAgg.kll(k)(keyCol.cast("double")).as("__sk"))
      .select(explode(sequence(lit(1), lit(n - 1))).as("split_idx"), col("__sk"))
      .select(
        col("split_idx").cast("long").as("split_idx"),
        expr(
          graft.functions.KllAgg
            .estimateAtPpmSql("__sk", s"(split_idx * 1000000) div $n")
        ).as("split_value"),
      )
  }

  /** WEIGHTED split points — boundaries of n equal-MASS shards where
    * mass is a per-row weight, not a row count: the packing-shard
    * planner's form ("cut the corpus into shards of equal TOKEN
    * budget, keyed by doc length"), via [[graft.functions.KllAgg.kll_weighted]]
    * binary-decomposition inserts. Same contract as
    * [[rangeSplitPoints]] with the balance bound on Σweight per shard
    * instead of row count. */
  def weightedRangeSplitPoints(
      df: DataFrame,
      keyCol: Column,
      weightCol: Column,
      n: Int,
      k: Int = 200,
  ): DataFrame = {
    require(n >= 2, s"need at least 2 partitions, got $n")
    df.agg(
      graft.functions.KllAgg.kll_weighted(k)(keyCol.cast("double"), weightCol.cast("long"))
        .as("__sk"))
      .select(explode(sequence(lit(1), lit(n - 1))).as("split_idx"), col("__sk"))
      .select(
        col("split_idx").cast("long").as("split_idx"),
        expr(
          graft.functions.KllAgg
            .estimateAtPpmSql("__sk", s"(split_idx * 1000000) div $n")
        ).as("split_value"),
      )
  }

  /** [[sketchQuantileBins]] with equal-MASS buckets: boundaries from
    * [[weightedRangeSplitPoints]], assignment by the same bounded
    * broadcast fold — rows land in buckets of near-equal Σweight
    * (character/token budget), the packing-shard ASSIGNMENT step after
    * the planner's cut. */
  def weightedSketchQuantileBins(
      df: DataFrame,
      keyCol: Column,
      weightCol: Column,
      n: Int,
      k: Int = 200,
  ): DataFrame = {
    val splits = weightedRangeSplitPoints(df, keyCol, weightCol, n, k)
      .agg(sort_array(collect_list(col("split_value"))).as("__splits"))
    df.crossJoin(broadcast(splits))
      .withColumn(
        "bucket",
        aggregate(
          col("__splits"),
          lit(0L),
          (acc, s) => acc + when(keyCol.cast("double") >= s, 1L).otherwise(0L),
        ),
      )
      .drop("__splits")
  }

  /** QUANTILE BINNING from the same sketch splits — the GBDT-style
    * feature transform ("which of n equal-mass buckets does this value
    * fall in") at corpus scale: [[rangeSplitPoints]] gives the n−1
    * ascending boundaries, collected to ONE bounded array and folded
    * per row (bucket = #splits ≤ v, a ≤64-element HOF fold — map-only,
    * no join, no shuffle beyond the sketch's own aggregation).
    * Returns `df` plus `bucket` (0-based). */
  def sketchQuantileBins(
      df: DataFrame,
      keyCol: Column,
      n: Int,
      k: Int = 200,
  ): DataFrame = {
    val splits = rangeSplitPoints(df, keyCol, n, k)
      .agg(sort_array(collect_list(col("split_value"))).as("__splits"))
    df.crossJoin(broadcast(splits))
      .withColumn(
        "bucket",
        aggregate(
          col("__splits"),
          lit(0L),
          (acc, s) => acc + when(keyCol.cast("double") >= s, 1L).otherwise(0L),
        ),
      )
      .drop("__splits")
  }
}
