package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
  * entity-resolution candidate generator between hash blocking (exact
  * key collision: [[Dedup]]'s groupBy families) and similarity joins
  * ([[Similarity]]): sort the corpus by a blocking key, slide a window
  * of w records, and emit only within-window pairs — O(n·w) candidates
  * instead of O(n²), catching near-matches whose keys are CLOSE but not
  * equal (lengths off by one, adjacent timestamps, neighboring
  * zip codes) that hash blocking misses by construction.
  *
  * The textbook method starts with a GLOBAL SORT — a single-partition
  * bottleneck this implementation refuses: the global rank is composed
  * scalably as (rows with strictly smaller key) + (row_number within
  * the tie group). The first term comes from the key HISTOGRAM
  * ([[Stats]]' cumulative discipline — the windowed step touches
  * |key domain| rows, never the corpus); the second is a window
  * partitioned BY KEY, bounded by the largest tie group. Pairing then
  * needs no sort either: rank-block the corpus at width w — a pair
  * with 0 < Δrank < w either shares a block or sits in adjacent ones,
  * so each left row joins into exactly two block keys (its own and the
  * next), an equi-join whose fanout is the window size. Shuffles carry
  * (key, id, rank) triples only.
  *
  * Determinism: ranks are total (ties broken by `idCol`), so the pair
  * set — including each pair's rank gap — is engine-replayable
  * bit-for-bit; a SQL oracle states the same thing as
  * `row_number() OVER (ORDER BY key, id)` plus a rank-distance self
  * join. Null keys are EXCLUDED (a null sorts nowhere; route null-key
  * records to exact-key or similarity blocking instead).
  */
object Blocking {

  /** `df` (non-null `keyCol` rows) plus `rank`: the 0-based position in
    * the total order (keyCol, idCol) — computed histogram-first, no
    * corpus-wide sort.
    *
    * The histogram cumulative is TIERED, not a single `Window.orderBy`:
    * the typical SNM sort key (names, timestamps) is continuous and
    * high-cardinality, so its histogram is corpus-sized and an
    * unpartitioned running-sum window would gather the whole corpus
    * onto one task — exactly the global-sort bottleneck this method
    * exists to avoid. Instead: range-partition the histogram, compute
    * per-partition running sums IN PARALLEL (window keyed by the range
    * partition id — each bounded by a partition, not the domain), then
    * broadcast the P-row per-partition totals back as offsets. The one
    * remaining unpartitioned window orders those P rows (P = shuffle
    * partitions), never the histogram. The cumulative is exact for any
    * range boundary placement, so the output is independent of the
    * sampling `repartitionByRange` does. */
  def snmRank(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val nn = df.filter(col(keyCol).isNotNull)
    // localCheckpoint: the cumulative feeds BOTH the offsets aggregate
    // and the base join, and its `__pid` column comes from
    // spark_partition_id() — correct only if the two consumers see the
    // SAME physical partitioning. Exchange reuse usually guarantees
    // that, but nothing pins it; materializing once makes the shared
    // `__pid` values a fact, not a plan-shape accident. Cost: one
    // histogram-sized (|distinct keys| rows, 4 narrow columns) RDD.
    val local = snmLocalCumulative(nn, keyCol).localCheckpoint(eager = false)
    val wOff = Window
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local
      .groupBy(col("__pid"))
      .agg(sum(col("__c")).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(wOff), lit(0L)))
      .select(col("__pid"), col("__off"))
    val base = local
      .join(broadcast(offsets), Seq("__pid"))
      .select(col("__k"), (col("__off") + col("__lcum") - col("__c")).as("__base"))
    val wTie = Window.partitionBy(col(keyCol)).orderBy(col(idCol))
    nn.join(base, nn(keyCol) === base("__k"))
      .withColumn("rank", col("__base") + row_number().over(wTie) - 1)
      .drop("__k", "__base")
  }

  /** The pre-checkpoint tiered histogram cumulative: range-partitioned
    * key histogram with a per-partition running sum (window keyed by
    * the range partition id — each bounded by a partition, not the key
    * domain). Package-private so the plan-shape spec can pin the
    * parallel range exchange DIRECTLY (the checkpoint in [[snmRank]]
    * truncates lineage, hiding this stage from the downstream plan). */
  private[graft] def snmLocalCumulative(nn: DataFrame, keyCol: String): DataFrame = {
    val hist  = nn.groupBy(col(keyCol).as("__k")).agg(count(lit(1)).as("__c"))
    val parts = nn.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = hist
      .repartitionByRange(parts, col("__k"))
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window
      .partitionBy(col("__pid"))
      .orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ranged.withColumn("__lcum", sum(col("__c")).over(wLocal))
  }

  /** Within-window candidate pairs: (`a_id`, `b_id`, `gap`) for every
    * ordered pair with 0 < rank(b) − rank(a) < `window`. Emitted via
    * the two-block equi-join (see object doc); output size is < n·w by
    * construction. */
  def snmPairs(df: DataFrame, keyCol: String, idCol: String, window: Int): DataFrame = {
    require(window >= 2, s"a sorted neighborhood needs window >= 2, got $window")
    val ranked = snmRank(df, keyCol, idCol).select(col(idCol), col("rank"))
    val left = ranked
      .select(
        col(idCol).as("a_id"),
        col("rank").as("ra"),
        explode(array(expr(s"rank div $window"), expr(s"rank div $window + 1"))).as("__blk"),
      )
    val right = ranked.select(
      col(idCol).as("b_id"),
      col("rank").as("rb"),
      expr(s"rank div $window").as("__blk"),
    )
    left
      .join(right, Seq("__blk"))
      .where(col("rb") > col("ra") && col("rb") < col("ra") + window)
      .select(col("a_id"), col("b_id"), (col("rb") - col("ra")).as("gap"))
  }

  // ---------------------------------------------------------------
  // Entity resolution over a SYNTHESIZED perturbation surface: the
  // test corpus has no realistic dirty-name data, so the dirty side is
  // GENERATED — deterministically, seeded by content hash, with every
  // perturbation expressible in ANSI SQL so a DuckDB oracle replays
  // the whole pipeline (perturb → block → similarity join → argmax)
  // bit-for-bit. The generator is itself a useful library op: seeded
  // perturbation surfaces are how ER pipelines build labeled
  // evaluation sets from clean registries (the ground truth IS the
  // generating id).
  // ---------------------------------------------------------------

  /** md5-seeded deterministic choice in [0, n) — the [[Cms.bucketOf]]
    * hash family, replayable by any engine with md5. */
  private def choiceOf(id: Column, name: Column, n: Int): Column =
    conv(substring(md5(concat(id.cast("string"), lit(":"), name)), 1, 6), 16, 10)
      .cast("long") % n

  /** One dirty record per input row: the name perturbed by one of
    * three hash-chosen edits — token swap (positions 1↔2),
    * abbreviation (token 1 truncated to 3 chars), typo (token 2 loses
    * its last char). Tokens 3..n are NEVER touched: real ER blocking
    * keys are chosen from the fields noise doesn't reach, and the
    * stable suffix is what [[matchBest]] callers block on. Names must
    * have ≥ 2 whitespace tokens. Map-only — no shuffle.
    *
    * @return (`id`, `name`, `perturbation` ∈ 0..2). */
  def perturbNames(df: DataFrame, idCol: String, nameCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(nameCol).as("__n"))
      .withColumn("__t", split(col("__n"), " "))
      .withColumn("__c", choiceOf(col("id"), col("__n"), 3))
      .withColumn("__rest", expr("slice(__t, 3, greatest(size(__t) - 2, 0))"))
      .select(
        col("id"),
        when(
          col("__c") === 0,
          concat_ws(" ",
            concat(array(element_at(col("__t"), 2), element_at(col("__t"), 1)), col("__rest"))),
        ).when(
          col("__c") === 1,
          concat_ws(" ",
            concat(
              array(substring(element_at(col("__t"), 1), 1, 3), element_at(col("__t"), 2)),
              col("__rest"))),
        ).otherwise(
          concat_ws(" ",
            concat(
              array(
                element_at(col("__t"), 1),
                expr("substring(element_at(__t, 2), 1, greatest(length(element_at(__t, 2)) - 1, 1))")),
              col("__rest"))),
        ).as("name"),
        col("__c").as("perturbation"),
      )


  /** Blocked similarity join + per-record argmax — the resolution step
    * of the ER pipeline: `dirty ⋈ canon` on `block` (the equi-join IS
    * the blocking — candidate count is Σ_block |D_b|·|C_b|, never
    * |D|·|C|), token-set Jaccard per candidate, threshold, then ONE
    * best match per dirty record as `min(struct(-sim, canon_id))` — a
    * plain aggregation, no per-record window/sort. Token arrays are
    * projected map-side BEFORE the join so each name splits once per
    * row, not once per candidate pair. At 100 TB: block-key skew is
    * the hazard (a too-coarse key makes one block quadratic) —
    * [[Colocate.saltedJoin]] composes when a hot block is known, and
    * block-size capping is the standard mitigation upstream.
    *
    * @param dirty (`id`, `name`, `block`)
    * @param canon (`id`, `name`, `block`)
    * @return (`dirty_id`, `canon_id`, `sim_ppm`, `n_candidates`)
    *         — `n_candidates` counts threshold survivors; ties on sim
    *         break by smallest canon id (deterministic both engines). */
  def matchBest(dirty: DataFrame, canon: DataFrame, minSimPpm: Long): DataFrame = {
    def proj(df: DataFrame, idAs: String, tokAs: String, nAs: String) =
      df.select(
        col("id").as(idAs),
        array_distinct(split(col("name"), " ")).as(tokAs),
        col("block"),
      ).withColumn(nAs, size(col(tokAs)).cast("long"))
    // |A ∪ B| = |A| + |B| − |A ∩ B| for the DISTINCT token arrays —
    // the set sizes are projected map-side (once per record), so each
    // candidate pair pays one array_intersect instead of an intersect
    // AND a union materialization (r16 optimization round; the
    // candidate count is Σ_block |D_b|·|C_b| — 2.7M pairs on the part
    // fixture's 150 blocks — so per-pair cost IS the operator's cost).
    val pairs = proj(dirty, "dirty_id", "__da", "__na")
      .join(proj(canon, "canon_id", "__ca", "__nb"), Seq("block"))
      // token-set Jaccard in integer ppm — flooring div, not float /
      .withColumn("__i", size(array_intersect(col("__da"), col("__ca"))).cast("long"))
      .withColumn("sim_ppm", expr("(__i * 1000000) div (__na + __nb - __i)"))
      .filter(col("sim_ppm") >= minSimPpm)
    pairs
      .groupBy("dirty_id")
      .agg(
        min(struct((-col("sim_ppm")).as("ns"), col("canon_id").as("cid"))).as("m"),
        count(lit(1)).as("n_candidates"),
      )
      .select(
        col("dirty_id"),
        col("m.cid").as("canon_id"),
        (-col("m.ns")).as("sim_ppm"),
        col("n_candidates"),
      )
  }

  /** [[matchBest]] scored by Jaro–Winkler instead of token-set Jaccard
    * — the character-level variant that survives within-token typos
    * token equality can't see (the `perturbNames` typo class). Same
    * blocking equi-join and min-struct argmax; the score is the native
    * [[graft.functions.JaroWinklerExpr]] DOUBLE (bit-equal to DuckDB's
    * on the single-byte names this pipeline blocks), ties broken by
    * smallest canon id. Same 100 TB posture as [[matchBest]]: the
    * block-key equi-join bounds candidates, skewed blocks salt via
    * [[Colocate.saltedJoin]].
    *
    * @param dirty (`id`, `name`, `block`)
    * @param canon (`id`, `name`, `block`)
    * @param minSim keep candidates with jw ≥ minSim
    * @return (`dirty_id`, `canon_id`, `jw`, `n_candidates`) */
  def matchBestJw(dirty: DataFrame, canon: DataFrame, minSim: Double): DataFrame = {
    val jw = graft.functions.JaroWinklerExpr.jaro_winkler _
    val pairs = dirty
      .select(col("id").as("dirty_id"), col("name").as("__dn"), col("block"))
      .join(canon.select(col("id").as("canon_id"), col("name").as("__cn"), col("block")),
        Seq("block"))
      .withColumn("jw", jw(col("__dn"), col("__cn")))
      .filter(col("jw") >= minSim)
    pairs
      .groupBy("dirty_id")
      .agg(
        min(struct((-col("jw")).as("ns"), col("canon_id").as("cid"))).as("m"),
        count(lit(1)).as("n_candidates"),
      )
      .select(
        col("dirty_id"),
        col("m.cid").as("canon_id"),
        (-col("m.ns")).as("jw"),
        col("n_candidates"),
      )
  }
}
