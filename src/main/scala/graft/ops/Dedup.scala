package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact to
  * fuzzy: content-hash groups, n-gram Jaccard, MinHash+LSH banding, and
  * SimHash. All are DataFrame-in/DataFrame-out compositions of built-in
  * operators (hash-aggregate + shuffle joins), so they inherit Spark's
  * partial aggregation, AQE, and skew handling. The only driver-side
  * materializations are scalar probes and [[clusterPairs]]'s
  * probe-bounded small-graph branch.
  *
  * Scale notes (100 TB posture):
  *  - exact dedup: one hash-groupBy shuffle on the 128-bit fingerprint.
  *  - jaccardPairs: the shingle self-join is bounded by shingle document
  *    frequency; cap ubiquitous shingles with `maxDocFreq` (boilerplate
  *    shingles otherwise quadratically dominate the join).
  *  - MinHash+LSH: fixed k hashes per shingle (linear), then a self-join
  *    keyed on (band, band_hash) — only colliding docs meet, which is
  *    the point of LSH. Tune bands×rows for the target similarity.
  *  - SimHash: linear signature computation, then pair generation should
  *    be bucketed (e.g. by 16-bit prefix) rather than all-pairs; the
  *    all-pairs form here is for oracle-checkable correctness at test SF.
  */
object Dedup {

  /** Distinct (doc_id, shingle) pairs: the set representation used by
    * every fuzzy-dedup operator below. Shingling runs through the
    * native [[graft.functions.ShingleGen]] generator (row-equal to
    * `explode(shingle_set_n(text))` and to the composed-builtins form,
    * asserted in FunctionsSpec) — one native pass that streams rows
    * instead of materializing each document's full shingle array
    * across an explode boundary. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    docs.select(
      col(idCol).as("doc_id"),
      graft.functions.ShingleGen.shingle_gen(col(textCol), n).as("sh"),
    )
  }

  /** Exact dedup groups: normalize-and-hash fingerprint → smallest id
    * kept as the canonical representative, copy count retained. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(Text.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Frequency-capped dedup ("soft dedup"): keep at most `maxCopies`
    * rows per exact-fingerprint group instead of collapsing to one —
    * the curation policy when bounded duplication is signal (a popular
    * page sampled twice is fine; 10k boilerplate copies are not).
    * Copy rank is deterministic (`idCol` order within a group; rows
    * that are bit-identical in full are interchangeable, so the kept
    * multiset is deterministic even under rank ties). Spark plans the
    * `copy_rank <= maxCopies` filter as partial+final WindowGroupLimit:
    * each map task truncates its local groups before the fingerprint
    * shuffle, so unbounded-duplication skew never travels the wire. */
  def dedupCapCopies(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxCopies: Int,
  ): DataFrame = {
    require(maxCopies >= 1, s"maxCopies must be >= 1, got $maxCopies")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Text.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    docs
      .withColumn("copy_rank", row_number().over(w))
      .filter(col("copy_rank") <= maxCopies)
  }

  /** Distinct content-fingerprint index of a corpus — the narrow
    * (16-byte-per-doc) state that [[dedupIncremental]] carries across
    * ingestion runs instead of re-scanning the corpus. */
  /** Null text fingerprints as the empty string on BOTH the index and
    * batch sides: a null fp would never match itself through the
    * anti-join (SQL null equality), so null-text documents would
    * bypass the cross-run index and be re-admitted every batch. */
  def fingerprintIndex(docs: DataFrame, textCol: String): DataFrame =
    docs.select(Text.fingerprint(coalesce(col(textCol), lit(""))).as("fp")).distinct()

  /** Incremental (cross-run) exact dedup — the ingestion-time form: a
    * 100 TB corpus is not re-deduped per batch; each incoming batch
    * (1) collapses within itself per fingerprint (min-id canonical, so
    * one batch cannot insert two copies of a new fingerprint), then
    * (2) anti-joins the persisted fingerprint index. Both steps key on
    * the 128-bit fingerprint; the index side carries ONLY fingerprints
    * — orders of magnitude narrower than the corpus it stands for.
    * Survivors come back with their `fp`, which IS the index delta to
    * append for the next run. */
  def dedupIncremental(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
  ): DataFrame = {
    require(index.columns.contains("fp"), "index must carry an 'fp' column")
    batch
      .groupBy(Text.fingerprint(coalesce(col(textCol), lit(""))).as("fp"))
      .agg(min(col(idCol)).as(idCol))
      .join(index.select("fp").distinct(), Seq("fp"), "left_anti")
      .select(idCol, "fp")
  }

  /** Distinct LSH (band, band_hash) rows of a corpus — the compact
    * cross-run state for [[dedupIncrementalFuzzyNative]]: like
    * [[fingerprintIndex]] but at near-dup granularity, ~nBands rows of
    * 16 bytes per indexed document regardless of document size.
    * Signatures come from the native one-pass expression
    * ([[minhashSignaturesNative]]): index maintenance reads the corpus
    * once, no shingle exchange. */
  def bandIndexNative(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int,
      rowsPerBand: Int,
  ): DataFrame =
    lshBands(minhashSignaturesNative(docs, idCol, textCol, n, k), rowsPerBand)
      .select("band", "band_hash")
      .distinct()

  /** Incremental (cross-run) NEAR-dup screen — the fuzzy analog of
    * [[dedupIncremental]]: an incoming batch is checked against the
    * persisted [[bandIndexNative]] and any document one of whose LSH
    * bands collides with the index is dropped. A band collision is the
    * standard LSH S-curve evidence of Jaccard at or above the banding's
    * threshold; skipping the exact verify against the (absent) indexed
    * corpus is the deliberate ingestion-time trade — conservative
    * toward dropping, exactly reproducible, and the index stays
    * orders of magnitude narrower than the corpus it stands for.
    * Within-batch near-dups are [[minhashLshPairsFromSigs]]'s job, run
    * before or after the screen.
    *
    * Dataflow: the batch-side signature build is the native one-pass
    * expression (map-only), so the whole screen is one scan plus the
    * left-semi join keyed on (band, band_hash) — AQE broadcasts the
    * index when it fits. Survivors' bands ([[bandIndexNative]] of the
    * result) are the index delta to append for the next run. */
  def dedupIncrementalFuzzyNative(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      n: Int,
      k: Int,
      rowsPerBand: Int,
  ): DataFrame = {
    require(
      index.columns.contains("band") && index.columns.contains("band_hash"),
      "index must carry (band, band_hash) columns",
    )
    val hit = lshBands(minhashSignaturesNative(batch, idCol, textCol, n, k), rowsPerBand)
      .join(index.select("band", "band_hash").distinct(), Seq("band", "band_hash"), "left_semi")
      .select(col("doc_id").as("__hit_id"))
      .distinct()
    batch.join(hit, batch(idCol) === col("__hit_id"), "left_anti")
  }

  /** Chunk-level exact dedup — the ExactSubstr family (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better") at
    * fixed token-span granularity: each document is split into
    * consecutive `chunkTokens`-token chunks, only the globally-first
    * occurrence of each distinct chunk text survives (first in
    * (`idCol`, chunk position) order), and each document's surviving
    * chunks are reassembled in order. Unlike document-level dedup, a
    * duplicated SPAN is removed while the rest of its document
    * survives — the right tool when corpora share long boilerplate
    * passages inside otherwise-distinct pages.
    *
    * Returns (`idCol`, text, n_chunks, n_kept): the rebuilt text ("" if
    * every chunk was a duplicate — the document row itself is never
    * dropped), the document's chunk count, and how many survived.
    *
    * Scale shape: tokenize+chunk is map-only (one generate per row);
    * first-occurrence is a window keyed on the 128-bit chunk
    * fingerprint — each window partition is one span's copy group, so
    * its size is bounded by the hottest span's copy count (every row is
    * retained, ranked rows flagged rather than filtered, because
    * non-surviving chunks still count toward n_chunks); reassembly is
    * one groupBy on the document id. Nothing is quadratic and no
    * driver-side state.
    */
  def chunkDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
  ): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val toks = Text.tokens(col(textCol))
    val nChunks = ceil(size(col("__toks")).cast("double") / chunkTokens).cast("int")
    // ANSI-mode guard: sequence(0, -1) DESCENDS, so the empty-document
    // case must short-circuit to an empty chunk list explicitly.
    val chunkList = when(size(col("__toks")) === 0, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("__toks"), i * chunkTokens + 1, lit(chunkTokens)), " "),
        )
      )
    val chunked = docs
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), posexplode_outer(chunkList).as(Seq("chunk_idx", "chunk")))
    // Null chunks (empty documents) can never be kept, but ranking
    // them in the md5(chunk) partition would funnel EVERY empty doc's
    // row into one md5(null) window partition — an unbounded one-task
    // hotspot at corpus scale. The composite partition key spreads
    // them per-document instead (the isNull flag keeps them disjoint
    // from real chunk groups), so the plan stays ONE generate + ONE
    // window and empty docs still emit their (empty-text, 0-chunk) row.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(
        col("chunk").isNull,
        coalesce(md5(col("chunk")), md5(col("doc_id").cast("string"))),
      )
      .orderBy(col("doc_id"), col("chunk_idx"))
    chunked
      .withColumn("__kept", col("chunk").isNotNull && row_number().over(w) === 1)
      .groupBy(col("doc_id").as(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("__kept"), struct(col("chunk_idx"), col("chunk"))))),
            x => x("chunk"),
          ),
          " ",
        ).as("text"),
        count(col("chunk")).as("n_chunks"),
        sum(when(col("__kept"), 1).otherwise(0)).as("n_kept"),
      )
  }

  /** Per-shingle document frequency — shared input of the cap, the
    * df>=2 pruning, the prefix ranking, and the skew probe. */
  private[ops] def docFreq(shingles: DataFrame): DataFrame =
    shingles.groupBy("sh").agg(count(lit(1)).as("__df"))

  /** The shared maxDocFreq preamble: (capped shingle table, capped
    * document-frequency table). Single definition so the naive and
    * prefix joins cannot silently diverge on capped-set semantics. */
  private[ops] def cappedShingles(
      shingles: DataFrame,
      freq: DataFrame,
      maxDocFreq: Option[Long],
  ): (DataFrame, DataFrame) = maxDocFreq match {
    case Some(cap) =>
      val cappedFreq = freq.filter(col("__df") <= cap)
      (shingles.join(cappedFreq.select("sh"), "sh"), cappedFreq)
    case None => (shingles, freq)
  }

  /** All pairs with shingle-set Jaccard >= `minJaccard` (a < b).
    * `maxDocFreq` drops shingles occurring in more documents than the
    * cap — the standard skew guard at scale. The cap is applied to the
    * whole computation, so the score is the exact Jaccard of the CAPPED
    * shingle sets (both intersection counts and set sizes exclude the
    * dropped ubiquitous shingles) — a consistent similarity measure, not
    * a mixed-denominator underestimate.
    *
    * Independently, the self-join runs only over shingles with document
    * frequency >= 2: singleton shingles cannot contribute to any pair's
    * intersection (they still count toward set sizes), and they are the
    * bulk of a natural corpus — this prunes most of the quadratic join
    * input without changing any result. */
  def jaccardPairs(
      shingles: DataFrame,
      minJaccard: Double,
      maxDocFreq: Option[Long] = None,
  ): DataFrame = {
    val (capped, cappedFreq) = cappedShingles(shingles, docFreq(shingles), maxDocFreq)
    naiveJaccard(shingles, capped, cappedFreq, minJaccard)
  }

  /** Shingle-level containment pairs — the substring-dedup family's
    * relational form: (inner, outer) where EVERY distinct shingle of
    * `inner` also occurs in `outer` (and inner has at least one
    * shingle). At shingle length n this is implied by true substring
    * containment and catches near-containment (quotes, expansions,
    * page-wraps) that exact substring search misses; a corpus pipeline
    * drops the inner docs as redundant. Ties between mutually-contained
    * docs (identical shingle sets) keep both directions — the caller's
    * keep rule (e.g. [[dedupKeepBest]] on the pair list) decides.
    *
    * Candidates use the AllPairs rarest-prefix trick: a
    * contained inner shares EVERY shingle with its outer — in
    * particular its rarest one — so candidates need only the join of
    * each doc's single (df, sh)-minimal shingle against the full
    * table: one candidate row per occurrence of a doc's rarest
    * shingle (Σ df(rarest) ≪ Σ df² of the full self-join; measured
    * 64s → linear at the 10× corpus). Verification counts the full
    * intersection for candidates only — candidate-proportional, and
    * result-identical to the naive df >= 2 pruned self-join (OpsSpec,
    * against its test-scope reference). */
  def containmentPairsPrefix(shingles: DataFrame, maxDocFreq: Option[Long] = None): DataFrame = {
    val (capped, cappedFreq) = cappedShingles(shingles, docFreq(shingles), maxDocFreq)
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("__df"), col("sh"))
    val rarest = capped
      .join(cappedFreq, "sh")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1 && col("__df") >= 2) // df=1 rarest ⇒ never contained
      .select(col("doc_id").as("inner_id"), col("sh"))
    val cand = rarest
      .join(capped.as("o"), rarest("sh") === col("o.sh") && col("inner_id") =!= col("o.doc_id"))
      .select(col("inner_id"), col("o.doc_id").as("outer_id"))
    val common = cand
      .join(capped.as("a"), col("inner_id") === col("a.doc_id"))
      .join(capped.as("b"), col("outer_id") === col("b.doc_id") && col("a.sh") === col("b.sh"))
      .groupBy("inner_id", "outer_id")
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.as("na"), col("inner_id") === col("na.doc_id"))
      .filter(col("c") === col("na.n"))
      .select(col("inner_id"), col("outer_id"), col("c").as("n_shingles"))
  }

  /** The naive self-join body shared by [[jaccardPairs]] and
    * [[jaccardPairsAuto]]'s flat branch — one definition so the two
    * entry points cannot diverge. */
  private def naiveJaccard(
      shingles: DataFrame,
      capped: DataFrame,
      cappedFreq: DataFrame,
      minJaccard: Double,
  ): DataFrame = {
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val joinable = cappedFreq.filter(col("__df") >= 2).select("sh")
    val pruned = shingles.join(joinable, "sh")
    val common = pruned
      .as("a")
      .join(pruned.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.as("na"), col("a_id") === col("na.doc_id"))
      .join(sizes.as("nb"), col("b_id") === col("nb.doc_id"))
      .select(
        col("a_id"),
        col("b_id"),
        (col("c").cast("double") / (col("na.n") + col("nb.n") - col("c"))).as("jaccard"),
      )
      .filter(col("jaccard") >= minJaccard)
  }

  /** Exact Jaccard pairs via prefix filtering (AllPairs/PPJoin family):
    * identical results to [[jaccardPairs]], computed with a much smaller
    * self-join. Under a global rarest-first shingle order (ascending
    * document frequency, shingle as tiebreak), any pair with
    * J >= tau shares its globally-smallest common shingle within both
    * docs' `n - ceil(tau*n) + 1` prefixes — so joining only prefixes
    * finds every qualifying pair. Candidates are then verified with an
    * `array_intersect` over per-doc sorted shingle arrays (one linear
    * merge per candidate, no quadratic groupBy over the full join
    * output).
    *
    * Scale notes: the prefix join's key distribution is exactly the
    * LOW-frequency end of the shingle vocabulary, so the self-join's
    * output is bounded by sum(df^2) over rare shingles — the term that
    * explodes in the naive join is gone. Verification joins are keyed
    * on doc_id (uniform). This is the form to run at corpus scale;
    * [[jaccardPairs]] remains as the directly-relational reference. */
  def jaccardPairsPrefix(
      shingles: DataFrame,
      minJaccard: Double,
      maxDocFreq: Option[Long] = None,
  ): DataFrame = {
    val (capped, cappedFreq) = cappedShingles(shingles, docFreq(shingles), maxDocFreq)
    verifyJaccard(prefixCandidates(capped, cappedFreq, minJaccard), capped, minJaccard)
  }

  /** Skew-aware Jaccard join: probes the shingle document-frequency
    * distribution (p99/median ratio — one tiny aggregate over the
    * docFreq table, the same driver-side-scalar pattern as the staging
    * watermark) and picks the naive self-join for flat distributions
    * or the prefix-filtered join once boilerplate shingles would make
    * the naive join quadratic. Both branches return identical results;
    * only the plan differs. `skewThreshold` ~8 separates the measured
    * regimes: the synthetic corpus probes ~2-3, a boilerplate-preamble
    * corpus probes 20+. */
  def jaccardPairsAuto(
      shingles: DataFrame,
      minJaccard: Double,
      maxDocFreq: Option[Long] = None,
      skewThreshold: Double = 8.0,
  ): DataFrame = {
    // The probe is one extra map-side-combinable aggregate over the
    // shingle table, executed eagerly; the chosen branch re-derives
    // docFreq lazily in its own plan. Deliberately NOT persisted here:
    // a cached table with no unpersist point would leak across
    // repeated calls — callers doing parameter sweeps should persist
    // the SHINGLE table, which both the probe and the branch scan.
    val freq = docFreq(shingles)
    val skew = dfSkewProbeFromFreq(freq)
    val (capped, cappedFreq) = cappedShingles(shingles, freq, maxDocFreq)
    if (skew >= skewThreshold)
      verifyJaccard(prefixCandidates(capped, cappedFreq, minJaccard), capped, minJaccard)
    else naiveJaccard(shingles, capped, cappedFreq, minJaccard)
  }

  /** The [[jaccardPairsAuto]] probe over a [[docFreq]] table:
    * p99/median of the shingle document-frequency distribution. ~1 on
    * a flat vocabulary; grows with boilerplate (the shingles that blow
    * up the naive join). An empty corpus probes as 1.0 (flat). */
  private[ops] def dfSkewProbeFromFreq(freq: DataFrame): Double = {
    val row = freq
      .agg(
        expr("percentile_approx(__df, 0.99)").cast("double").as("p99"),
        expr("percentile_approx(__df, 0.5)").cast("double").as("med"),
      )
      .head()
    if (row.isNullAt(0) || row.isNullAt(1)) 1.0
    else row.getDouble(0) / math.max(row.getDouble(1), 1.0)
  }

  /** The prefix-join candidate stage of [[jaccardPairsPrefix]]: each
    * doc keeps its `n - ceil(tau*n) + 1` globally-rarest shingles
    * (ascending document frequency, shingle tiebreak) and only
    * prefixes join. Package-visible so specs can measure candidate
    * counts against the naive join. */
  private[ops] def prefixCandidates(
      shingles: DataFrame,
      docFreq: DataFrame,
      minJaccard: Double,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // alpha = ceil(tau*n) computed with a small negative epsilon so fp
    // noise can only LENGTHEN the prefix (extra candidates are filtered
    // by verification; a shortened prefix would drop true pairs).
    val byDoc = Window.partitionBy("doc_id")
    val ranked = shingles
      .join(docFreq, "sh")
      .withColumn("rk", row_number().over(byDoc.orderBy(col("__df"), col("sh"))))
      .withColumn("n", count(lit(1)).over(byDoc))
    val prefix = ranked
      .filter(col("rk") <= col("n") - ceil(lit(minJaccard) * col("n") - lit(1e-9)) + lit(1))
      .select("doc_id", "sh", "n")
    // AllPairs length filter: J(a,b) >= tau forces the set sizes within
    // a factor of tau of each other (J <= min/max). A necessary
    // condition only — verification decides membership — so it can only
    // REMOVE candidates the verify stage would reject anyway. The same
    // epsilon discipline as the prefix bound: relax each inequality by
    // 1e-9 so fp noise can only ADMIT an extra candidate, never drop a
    // true pair. Still a hash join on sh; the size bounds are a cheap
    // post-probe predicate, not a join key.
    prefix
      .as("a")
      .join(
        prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= lit(minJaccard) * col("a.n") - lit(1e-9) &&
          col("a.n") >= lit(minJaccard) * col("b.n") - lit(1e-9),
      )
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** MinHash signatures, wide form: one row per doc with columns
    * `mh0..mh{k-1}`, each the min over the doc's [[shingleSets]]
    * shingles of md5(seed ':' shingle) — md5 keeps the signature
    * engine-independent (byte-identical in any SQL engine). Computed by
    * the native one-pass [[graft.functions.MinHashMd5Expr]] —
    * bit-equal to the relational k-way min aggregate (FunctionsSpec)
    * but scan-local: no shingle explode, no k-way min aggregate, no
    * exchange before banding. Documents with no shingles
    * have no signature row, same as the relational pipeline. */
  def minhashSignaturesNative(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int,
  ): DataFrame = {
    unpackSignatures(
      docs.select(
        col(idCol).as("doc_id"),
        graft.functions.MinHashMd5Expr.minhash_md5(col(textCol), n, k).as("mh"),
      ),
      k,
    )
  }

  /** (doc_id, mh array) → the wide (doc_id, mh0..mh{k-1}) signature
    * form banding reads; documents with no shingles (null `mh`) have
    * no signature row. */
  private def unpackSignatures(sigs: DataFrame, k: Int): DataFrame =
    sigs
      .filter(col("mh").isNotNull)
      .select(col("doc_id") +: (0 until k).map(i => col("mh").getItem(i).as(s"mh$i")): _*)

  /** LSH banding over a wide signature: `band_hash` = md5 of the
    * seed-ordered minhashes in each band of `rowsPerBand` consecutive
    * seeds, unpivoted to one row per (doc, band) for the collision join. */
  def lshBands(signatures: DataFrame, rowsPerBand: Int): DataFrame = {
    val k = signatures.columns.count(_.startsWith("mh"))
    require(k % rowsPerBand == 0, s"k=$k not divisible by rowsPerBand=$rowsPerBand")
    val nBands = k / rowsPerBand
    val bandHashes = (0 until nBands).map { b =>
      val members = (b * rowsPerBand until (b + 1) * rowsPerBand).map(s => col(s"mh$s"))
      md5(concat_ws(",", members: _*))
    }
    val stackArgs = (0 until nBands).flatMap(b => Seq(lit(b), bandHashes(b)))
    signatures.select(
      col("doc_id"),
      stack(lit(nBands) +: stackArgs: _*).as(Seq("band", "band_hash")),
    )
  }

  /** Candidate pairs: docs sharing any LSH band (a < b, distinct).
    * This is the only pair-producing join and it is keyed on
    * (band, band_hash) — non-colliding documents never meet. */
  def lshCandidates(bands: DataFrame): DataFrame =
    bands
      .as("a")
      .join(
        bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"),
      )
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** End-to-end MinHash-LSH near-dup detection over a PREBUILT
    * signature table ([[minhashSignaturesNative]]): LSH candidates
    * verified with the true shingle Jaccard (computed only for
    * candidates). The entry point for pipelines that materialize the
    * (doc, mh0..mh{k-1}) signatures once per corpus and fan several
    * banding/verify jobs off the one table (the shared-artifact discipline: the signature pass
    * is the dominant map cost, and every consumer re-deriving it pays
    * it once per PLAN SUBTREE — a candidate self-join alone evaluates
    * it twice). */
  def minhashLshPairsFromSigs(
      sigs: DataFrame,
      shingles: DataFrame,
      rowsPerBand: Int,
      minJaccard: Double,
  ): DataFrame =
    verifyJaccard(lshCandidates(lshBands(sigs, rowsPerBand)), shingles, minJaccard)

  /** MinHash-LSH near-dup pairs over per-document SKETCHES
    * `(doc_id, mh, shs)`: the md5 MinHash array and the distinct
    * shingle array of each document, both computed map-only from the
    * text ([[graft.functions.MinHashMd5Expr]],
    * [[graft.functions.ShingleSetExpr]] — bit-equal to the relational
    * signature and [[shingleSets]] forms, FunctionsSpec). Banding and
    * the (band, band_hash) self-join are [[minhashLshPairsFromSigs]]';
    * the verify joins the candidates straight to the sketch table, so
    * no exploded shingle table and no per-document regroup exist
    * anywhere in the plan. Result-identical to the relational
    * signature → banding → verify chain over [[shingleSets]] of the
    * same documents (OpsSpec). */
  def minhashLshPairsFromSketches(
      sketches: DataFrame,
      k: Int,
      rowsPerBand: Int,
      minJaccard: Double,
  ): DataFrame = {
    val sigs = unpackSignatures(sketches.select(col("doc_id"), col("mh")), k)
    verifyJaccardSets(
      lshCandidates(lshBands(sigs, rowsPerBand)),
      sketches.select(col("doc_id"), col("shs")),
      minJaccard,
    )
  }

  /** Exact shingle-Jaccard scores for a candidate pair table
    * (a_id, b_id). Work is candidate-proportional: per-doc shingle
    * arrays are built once (one groupBy of the shingle table), then
    * each candidate pair costs two doc_id-keyed joins and one linear
    * `array_intersect` — no re-join of the full shingle table per pair
    * and no groupBy over the pair×shingle blowup. Shared by every
    * candidate-generating path (MinHash-LSH, prefix join). */
  private[ops] def verifyJaccard(
      cands: DataFrame,
      shingles: DataFrame,
      minJaccard: Double,
  ): DataFrame =
    verifyJaccardSets(
      cands,
      shingles.groupBy("doc_id").agg(collect_list(col("sh")).as("shs")),
      minJaccard,
    )

  /** [[verifyJaccard]] against per-document DISTINCT shingle arrays
    * `(doc_id, shs)` that already exist — nothing is regrouped. */
  private def verifyJaccardSets(
      cands: DataFrame,
      sets: DataFrame,
      minJaccard: Double,
  ): DataFrame =
    cands
      .join(sets.as("da"), col("a_id") === col("da.doc_id"))
      .join(sets.as("db"), col("b_id") === col("db.doc_id"))
      .withColumn("__c", size(array_intersect(col("da.shs"), col("db.shs"))).cast("long"))
      .select(
        col("a_id"),
        col("b_id"),
        (col("__c").cast("double") / (size(col("da.shs")) + size(col("db.shs")) - col("__c")))
          .as("jaccard"),
      )
      .filter(col("jaccard") >= minJaccard)

  /** Weighted (multiset) Jaccard over word-token HISTOGRAMS for
    * LSH-surfaced candidate pairs: J_w = Σ_t min(c_a(t), c_b(t)) /
    * Σ_t max(c_a(t), c_b(t)) — the near-dup measure that still sees
    * repeated content (boilerplate runs, copy-paste amplification)
    * where set Jaccard saturates at one occurrence per type. Candidate
    * generation is the standard MinHash-LSH banding over a PREBUILT
    * signature table (the [[minhashLshPairsFromSigs]] discipline; never
    * all-pairs); the min-sum is a token-keyed equi-join restricted to
    * candidates (candidate-proportional, like [[verifyJaccard]]), and
    * the max-sum needs no second join: Σmax = S_a + S_b − Σmin.
    * Integer-exact throughout — `wj_ppm` is the floored ppm quotient
    * any engine replays bit-for-bit. Output: `(a_id, b_id, inter, uni,
    * wj_ppm)` for wj_ppm ≥ tauPpm. */
  def weightedJaccardPairsFromSigs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sigs: DataFrame,
      rowsPerBand: Int,
      tauPpm: Long,
  ): DataFrame = {
    // consumed twice (min-sum join + the final left join): materialize
    // so the signature/banding chain runs once, not per consumer
    val cands = lshCandidates(lshBands(sigs, rowsPerBand)).localCheckpoint(eager = false)
    // consumed three times (both sides of the min-sum join + totals):
    // materialize so the explode + count aggregation runs once
    val tok = docs
      .select(col(idCol).as("doc_id"), explode(Text.tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val tot = tok.groupBy("doc_id").agg(sum(col("c")).as("s"))
    val minSums = cands
      .join(tok.as("ta"), col("a_id") === col("ta.doc_id"))
      .join(tok.as("tb"), col("b_id") === col("tb.doc_id") && col("ta.tok") === col("tb.tok"))
      .groupBy("a_id", "b_id")
      .agg(sum(least(col("ta.c"), col("tb.c"))).as("__m"))
    cands
      .join(minSums, Seq("a_id", "b_id"), "left")
      .join(tot.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(tot.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(
        col("a_id"),
        col("b_id"),
        coalesce(col("__m"), lit(0L)).as("inter"),
        (col("sa.s") + col("sb.s") - coalesce(col("__m"), lit(0L))).as("uni"),
        expr("coalesce(__m, 0L) * 1000000L div (sa.s + sb.s - coalesce(__m, 0L))").as("wj_ppm"),
      )
      .filter(col("wj_ppm") >= tauPpm)
  }

  /** Connected components over near-dup pairs: every document in a
    * component mapped to the smallest doc_id reachable from it (the
    * canonical representative to keep).
    *
    * Implementation: alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — each round is two join+aggregate steps, and the round
    * count is O(log² n) in the worst case regardless of component
    * diameter, vs the O(diameter) rounds of plain min-label
    * propagation (the spec's reference). On a 100 TB corpus a
    * pathological near-dup chain (pairwise-overlapping boilerplate)
    * can have diameter in the thousands; star contraction closes it in
    * a handful of rounds. Convergence is detected with one scalar
    * fingerprint aggregate per round (count + order-independent hash
    * xor) — no edge-set diff join.
    *
    * Hybrid: the star path's cost is Spark jobs, not rows. Measured
    * with AQE off on local[4], a round runs 6 jobs (its checkpoint, its
    * fingerprint and four broadcast join sides) on top of 5 fixed ones
    * (the probe below, the edge checkpoint, the first fingerprint, the
    * labelling's broadcast and action): 11 jobs and ~2 s for a single
    * edge, 42 jobs and ~8 s for a 200-node chain. So ONE
    * bounded probe runs first: a single job collects at most
    * `driverEdgeCutoff + 1` pairs (a global limit under a
    * collect_list, so the driver never receives more). When the graph
    * has at most `driverEdgeCutoff` pairs (and ids are LongType,
    * keeping the output schema identical) an exact union-find on the
    * driver solves it and the labels come back as a local relation —
    * the same "the small side fits in one process" reasoning Spark
    * applies when broadcasting a join side. Past the cutoff — the
    * regime a 100 TB corpus is in — the pairs are checkpointed and the
    * distributed star-contraction rounds run unchanged. Both paths are
    * result-identical (spec-pinned on random graphs with self-loops,
    * duplicate and reversed pairs, and on a diameter-200 chain).
    *
    * Not lazy: the probe job (and, past the cutoff, every round) runs
    * when this is CALLED.
    */
  def clusterPairs(
      pairs: DataFrame,
      maxIter: Int = 25,
      driverEdgeCutoff: Long = 500000L,
  ): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = pairs.sparkSession
    // The pair chain upstream (LSH candidates + similarity verify) is
    // read by the probe and, past the cutoff, twice more (the canonical
    // edge set and the node universe). The probe job's own tasks
    // checkpoint it — a cached partition is computed whole, whatever
    // the limit above it takes — so the chain runs exactly once.
    val p0 = pairs.select(col("a_id"), col("b_id")).localCheckpoint(eager = false)

    val idsAreLong = p0.schema.forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (idsAreLong && driverEdgeCutoff >= 0L) {
      val probe = p0
        .limit(math.min(driverEdgeCutoff + 1L, Int.MaxValue.toLong).toInt)
        .agg(collect_list(struct(col("a_id"), col("b_id"))))
        .head()
        .getSeq[Row](0)
      if (probe.size <= driverEdgeCutoff) {
        import spark.implicits._
        val labels = unionFindMinLabels(probe).toSeq.map { case (n, c) => (Option(n), Option(c)) }
        // a null id is its own (null) component, as on the star path
        val nullIds =
          if (probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) Seq((None, None)) else Nil
        return (labels ++ nullIds).toDF("doc_id", "component")
      }
    }

    // canonical directed edges: u -> v with u > v
    var e = p0
      .filter(col("a_id") =!= col("b_id"))
      .select(
        greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"),
      )
      .distinct()
      .localCheckpoint()

    def fingerprint(df: DataFrame): (Long, Long) =
      df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head() match {
        case Row(c: Long, h: Long) => (c, h)
        case Row(c: Long, null)    => (c, 0L)
      }

    var fp = fingerprint(e)

    var changed = true
    var i       = 0
    while (changed && i < maxIter) {
      // large-star: each node links its strictly-larger neighbors to
      // the minimum of its closed neighborhood
      val both = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = both
        .groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // duplicates left to the final distinct — they only thin out there
      val large = both
        .filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v")) // v > u >= m, so u > v holds
        .persist()
      // small-star: each node relinks its smaller neighbors (and
      // itself) to its minimum neighbor
      val minsS = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large
        .join(minsS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .unionAll(minsS.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint()
      large.unpersist()
      val fp2 = fingerprint(small)
      changed = fp2 != fp
      fp = fp2
      e = small
      i += 1
    }
    // star contraction converges in O(log^2 n) rounds; hitting the
    // budget means something is deeply wrong — fail loud rather than
    // return silently SPLIT components (a dedup built on them would
    // quietly keep duplicates)
    if (changed)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter star rounds")
    // at convergence every edge is (node, component-min); min nodes
    // label themselves
    val allNodes = p0
      .select(col("a_id").as("doc_id"))
      .unionAll(p0.select(col("b_id").as("doc_id")))
      .distinct()
    val stars = e.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("__comp"))
    allNodes
      .join(stars, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__comp"), col("doc_id")).as("component"))
  }

  /** Exact union-find (path halving + union by root value) over a
    * driver-resident pair list; returns every non-null node mapped to
    * the minimum id in its component (a node seen only in a self-loop
    * or beside a null id labels itself). Only reachable through the
    * bounded small-graph branch of [[clusterPairs]]. */
  private def unionFindMinLabels(pairs: Seq[org.apache.spark.sql.Row]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val p = parent(r)
        parent(r) = parent.getOrElse(p, p) // path halving
        r = p
      }
      r
    }
    pairs.foreach { r =>
      if (!r.isNullAt(0)) parent.getOrElseUpdate(r.getLong(0), r.getLong(0))
      if (!r.isNullAt(1)) parent.getOrElseUpdate(r.getLong(1), r.getLong(1))
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val (ru, rv) = (find(r.getLong(0)), find(r.getLong(1)))
        // root at the smaller id so roots are already component minima
        if (ru < rv) parent(rv) = ru
        else if (rv < ru) parent(ru) = rv
      }
    }
    parent.keysIterator.map(n => n -> find(n)).toMap
  }

  /** Benchmark decontamination — the eval-leakage guard every serious
    * training pipeline runs: drop any corpus document sharing at least
    * one word `n`-gram with the benchmark/eval set (the n-gram-overlap
    * rule popularized by the GPT-3/Pile decontamination procedures;
    * `n` ≈ 8–13 for natural text, lower for short or synthetic docs).
    *
    * Dataflow: distinct `n`-gram shingles of both sides, a semi-join
    * keyed on the shingle, anti-join the flagged ids. The benchmark
    * side is an eval set — tiny by definition — so its shingle table is
    * broadcast: the corpus side never shuffles, making this one
    * map-side-filtered scan at any corpus scale. */
  def decontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
  ): DataFrame = {
    val flagged = contaminatedIds(docs, benchmark, idCol, textCol, n)
      .withColumnRenamed("doc_id", "__contam_id")
    docs.join(flagged, docs(idCol) === col("__contam_id"), "left_anti")
  }

  /** Fuzzy (Jaccard-threshold) decontamination — the paraphrase-robust
    * twin of [[decontaminate]]: instead of dropping on ANY shared
    * n-gram, a corpus document is contaminated only when its distinct
    * n-gram set overlaps some benchmark document's at Jaccard ≥
    * τ (Llama-2-style token-overlap decontamination, as a set measure).
    * Catches reworded eval leakage a long-exact-n-gram rule misses,
    * while tolerating the stray common phrase the exact rule
    * over-kills on.
    *
    * The threshold is integer-exact: `inter·10⁶ ≥ tauPpm·(|A|+|B|−inter)`
    * — no float enters the keep/drop decision. Shape: benchmark
    * shingle sets are broadcast (eval suites are small by contract —
    * the PQ-codebook rule); the corpus side runs the map-only shingle
    * generator TWICE (once joined against the bench, once for the
    * per-doc set sizes) — the deliberate trade over persisting a
    * corpus-shingle-sized intermediate, the same two-scan posture
    * [[Similarity.semiHardNegatives]] documents. The overlap is a
    * shingle-keyed aggregation bounded by candidate pairs that
    * actually share a shingle. Nothing |corpus|² appears. */
  def decontaminateFuzzy(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tauPpm: Long,
  ): DataFrame = {
    require(tauPpm >= 1 && tauPpm <= 1000000L, s"tauPpm must be in [1, 1e6], got $tauPpm")
    val cSh = shingleSets(docs, idCol, textCol, n)
    val bSh = shingleSets(benchmark, idCol, textCol, n)
      .select(col("doc_id").as("__b_id"), col("sh"))
    val cSize = cSh.groupBy("doc_id").agg(count(lit(1)).as("__a_sz"))
    val bSize = bSh.groupBy("__b_id").agg(count(lit(1)).as("__b_sz"))
    val flagged = cSh
      .join(broadcast(bSh), Seq("sh"))
      .groupBy("doc_id", "__b_id")
      .agg(count(lit(1)).as("__inter"))
      .join(cSize, Seq("doc_id"))
      .join(broadcast(bSize), Seq("__b_id"))
      .filter(
        col("__inter") * lit(1000000L) >=
          lit(tauPpm) * (col("__a_sz") + col("__b_sz") - col("__inter"))
      )
      .select(col("doc_id").as("__contam_id"))
      .distinct()
    docs.join(flagged, docs(idCol) === col("__contam_id"), "left_anti")
  }

  /** The flagged side of [[decontaminate]]: distinct corpus ids sharing
    * an `n`-gram with the benchmark (for reporting/audit, one row per
    * contaminated document). */
  def contaminatedIds(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
  ): DataFrame = {
    val benchShingles = shingleSets(benchmark, idCol, textCol, n)
      .select(col("sh"))
      .distinct()
    shingleSets(docs, idCol, textCol, n)
      .join(broadcast(benchShingles), Seq("sh"), "left_semi")
      .select(col("doc_id"))
      .distinct()
  }

  /** Quality-aware corpus dedup (the SemDeDup-style keep rule): from
    * each near-dup component keep the member with the HIGHEST
    * `scoreCol` (ties → smallest id) instead of [[dedupByPairs]]'s
    * min-id canonical — when near-duplicates differ in quality
    * (truncation, OCR noise, boilerplate wrapping), the keep decision
    * should prefer the best copy, not an arbitrary one. Documents in
    * no component are kept unchanged.
    *
    * Dataflow: components from [[clusterPairs]] (collision-keyed
    * pairs in, so component count ≪ corpus), an inner join to pull
    * members' scores (component side is the small one — AQE
    * broadcasts it at real scale), one per-component
    * WindowGroupLimit argmax, then a left-anti to drop the losers.
    * The corpus never shuffles on anything wider than the id. */
  def dedupKeepBest(
      docs: DataFrame,
      idCol: String,
      scoreCol: String,
      pairs: DataFrame,
  ): DataFrame = {
    val comp = clusterPairs(pairs).withColumnRenamed("doc_id", "__member_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col("__member_id").asc)
    val losers = docs
      .join(comp, docs(idCol) === col("__member_id"))
      .select(col("__member_id"), col("component"), col(scoreCol))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1)
      .select(col("__member_id").as("__drop_id"))
    docs.join(losers, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** The map-only form of the [[decontaminate]] test, for streaming
    * ingestion: true iff the document shares at least one word
    * `n`-gram with `benchShingles` (the eval set's distinct shingles,
    * collected once — an eval set is tiny by definition, the same
    * reasoning that lets the batch form broadcast it). A pure Column
    * predicate: stateless, shuffle-free, usable in a `readStream`
    * filter where the batch form's join+aggregate shape would need
    * stateful machinery to re-assemble per-document verdicts. */
  def contaminatedPredicate(textCol: Column, benchShingles: Seq[String], n: Int): Column = {
    // native single-pass shingling (the composed HOF form pays ~20x at
    // corpus scale)
    val sh    = graft.functions.ShingleSetExpr.shingle_set(textCol, n)
    val exact = arrays_overlap(sh, typedlit(benchShingles.sorted))
    if (benchShingles.size <= BloomCutover) exact
    else {
      // Large eval set: arrays_overlap probes every literal element per
      // row (O(|bench|) — measured 117s at a 46k-shingle set on a 49k
      // corpus). A Bloom sketch over xxhash64(shingle) is a constant
      // ~20 bits/entry broadcast; `exists` probes it per DOC shingle
      // (O(|doc|)), and only bloom-positive rows pay the exact confirm
      // — the result stays EXACT, the sketch only gates who pays for
      // exactness. Same seed-42 xxhash64 on both sides (driver put,
      // SQL probe). The per-PROBE fpp compounds per document
      // (1-(1-p)^shingles: p=0.01 measured 38% of a 49k-doc corpus
      // bloom-positive), so it is set for ~1% per DOC at ~100
      // shingles/doc — bits grow only with ln(1/p).
      val bf = org.apache.spark.util.sketch.BloomFilter
        .create(benchShingles.size.toLong, 0.0001)
      benchShingles.foreach { s =>
        bf.putLong(
          org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(s),
            org.apache.spark.sql.types.StringType,
            42L,
          )
        )
      }
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val bloomLit = lit(bos.toByteArray)
      // BloomFilterMightContain has no SQL or Column API: built directly
      import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
      val bloomHit = exists(
        sh,
        x =>
          column(
            org.apache.spark.sql.catalyst.expressions
              .BloomFilterMightContain(expression(bloomLit), expression(xxhash64(x)))
          ),
      )
      bloomHit && exact // And short-circuits: exact runs on bloom hits only
    }
  }

  /** [[contaminatedPredicate]] switches from the plain literal-overlap
    * form to the Bloom-gated form above this eval-set size. */
  val BloomCutover: Int = 2048

  /** End-to-end corpus dedup: keep every document that is the canonical
    * (minimum-id) member of its near-dup component, plus all documents
    * in no component. */
  def dedupByPairs(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val dropIds = clusterPairs(pairs)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("__drop_id"))
    docs.join(dropIds, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** Leakage-aware train/validation split: assign every near-dup
    * COMPONENT — not every document — atomically to a split, so two
    * near-duplicate documents can never land on opposite sides of the
    * train/eval boundary. A plain per-document hash split leaks: a
    * training document's near-twin in the validation set inflates eval
    * scores exactly the way test-set contamination does (the
    * within-corpus analog of [[decontaminate]]'s train-vs-benchmark
    * concern). Splitting on the component canonical id closes that
    * channel by construction.
    *
    * The split key is the component's canonical (minimum) member id,
    * hashed with [[Sampling.hashFraction]]'s md5 fraction — pure
    * content hash, no RNG, so the split is reproducible across engines
    * and runs, and retuning `validFraction` upward only MOVES whole
    * components train→valid (nested-sample property, per component).
    * Documents in no near-dup pair are their own singleton component.
    *
    * Scale shape: [[clusterPairs]]' O(log² n) contraction over the
    * pair table (|near-dup docs| rows, not |corpus|), then ONE
    * left join of the corpus against that component map (AQE
    * broadcastable while small, shuffled hash join beyond) and a
    * map-only hash predicate. The incremental cost over a naive
    * leaky hash split is the component join alone. */
  def componentSplit(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      validFraction: Double,
  ): DataFrame = {
    require(
      validFraction > 0 && validFraction < 1,
      s"validFraction must be in (0, 1), got $validFraction",
    )
    val comp = clusterPairs(pairs).select(col("doc_id").as("__cid"), col("component"))
    docs
      .join(comp, docs(idCol) === col("__cid"), "left")
      .withColumn("component", coalesce(col("component"), docs(idCol)))
      .drop("__cid")
      .withColumn(
        "split",
        when(Sampling.hashFraction(col("component")) < lit(validFraction), lit("valid"))
          .otherwise(lit("train")),
      )
  }

  /** Production-path 64-bit SimHash: bit j of xxhash64(shingle) votes
    * ±1 directly (no hex-nibble decode), one aggregation pass with 64
    * vote sums. Twice the signature bits of the 32-bit md5 SimHash at
    * lower hashing cost; engine-specific, so no cross-engine oracle for
    * the signature itself — the md5 twin
    * ([[graft.functions.SimHash64Md5Expr]]) oracles the 64-bit
    * banding/pairing stage. */
  def simhash64Xx(shingles: DataFrame): DataFrame = {
    val hashed = shingles.select(col("doc_id"), xxhash64(col("sh")).as("h"))
    val votes = (0 until 64).map { pos =>
      sum(when(shiftright(col("h"), pos).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s$pos")
    }
    val sig = (0 until 64)
      .map(pos => when(col(s"s$pos") > 0, lit(1L << pos)).otherwise(0L))
      .reduce(_ + _)
    hashed
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance (a < b), via banded
    * self-join: the `bits`-bit signature is split into `maxHamming + 1`
    * bit-bands — by pigeonhole, any pair within the Hamming threshold
    * agrees on at least one full band, so joining per band on band
    * equality finds every qualifying pair (identical results to the
    * all-pairs form) while only colliding signatures ever meet. This is
    * the standard scale-out for SimHash dedup. */
  def simhashPairs(sigs: DataFrame, maxHamming: Int, bits: Int = 32): DataFrame = {
    // the pigeonhole needs maxHamming+1 NON-EMPTY bands: more bands
    // than bits would make some band masks zero-width (every signature
    // collides there) and silently degrade the keyed join to all-pairs
    require(maxHamming >= 0 && maxHamming + 1 <= bits,
      s"need maxHamming + 1 <= bits, got maxHamming=$maxHamming bits=$bits")
    val nBands = maxHamming + 1
    val bounds = (0 until nBands).map(b => (b * bits / nBands, (b + 1) * bits / nBands))
    val stackArgs = bounds.zipWithIndex.flatMap { case ((s, e), i) =>
      // (1L << 64) wraps to 1 in JVM shift semantics; a full-width band
      // (maxHamming=0, bits=64) needs the all-ones mask spelled out.
      val mask = if (e - s == 64) -1L else (1L << (e - s)) - 1
      Seq(lit(i), shiftright(col("simhash"), s).bitwiseAND(lit(mask)))
    }
    val banded = sigs.select(
      col("doc_id"),
      col("simhash"),
      stack(lit(nBands) +: stackArgs: _*).as(Seq("band", "bv")),
    )
    banded
      .as("a")
      .join(
        banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"),
      )
      .select(
        col("a.doc_id").as("a_id"),
        col("b.doc_id").as("b_id"),
        col("a.simhash").as("__sa"),
        col("b.simhash").as("__sb"),
      )
      .distinct()
      .select(
        col("a_id"),
        col("b_id"),
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).as("hamming"),
      )
      .filter(col("hamming") <= maxHamming)
  }
}
