package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, n-gram shingling, stopword statistics, quality ratios,
  * language-ID heuristics, and content fingerprints.
  *
  * Everything is a pure Column expression over built-ins (regexes and
  * higher-order array functions) — no UDFs, fully parallel, no state —
  * so the operators cost one scan at any scale.
  */
object Text {

  /** Word tokens ([[graft.functions.Shingles.TokenRegex]] runs, the
    * tokenizer of every shingle; robust to repeated/trailing whitespace,
    * unlike a split-on-space). */
  def tokens(text: Column): Column =
    regexp_extract_all(text, lit(graft.functions.Shingles.TokenRegex), lit(0))

  /** Number of word tokens. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer pattern, restricted to constructs RE2
    * also supports (no lookahead — trailing-space merging is a
    * tokenizer-training nicety, not a counting semantic): common
    * English contractions, space-prefixed letter runs, digit runs,
    * punctuation runs, then residual whitespace runs. This is the
    * "BPE-ish" token count — a far better LLM-token proxy than `\w+`
    * because punctuation and contractions count the way a trained BPE
    * vocabulary splits them. */
  val bpeishPattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** BPE-ish pre-tokens (see [[bpeishPattern]]). */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeishPattern), lit(0))

  /** BPE-ish token count, whitespace runs excluded (a whitespace run
    * separates tokens; only a leading single space is part of one). */
  def bpeishTokenCount(text: Column): Column =
    size(filter(bpeishTokens(text), t => t.rlike("\\S")))

  /** Count of word characters (token lengths summed). */
  def wordChars(text: Column): Column = length(regexp_replace(text, "\\W", ""))

  /** Contiguous n-gram shingles over the token array, space-joined.
    * Documents shorter than `n` tokens yield an empty set. */
  def shingles(toks: Column, n: Int): Column = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*),
        )
      )
  }

  /** Occurrences of any of `words` as whole words. Words are
    * regex-QUOTED before interpolation: a caller's "c++" or "a.b"
    * must match literally, not blow up the pattern or match 'aXb'. */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(
      text,
      lit("\\b(" + words.map(java.util.regex.Pattern.quote).mkString("|") + ")\\b"),
      lit(0),
    ))

  /** Function-word marker sets for the n-gram/stopword language-ID
    * heuristic. Tiny by design: language ID at corpus scale is a
    * per-row scorer, not a model lookup. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is"),
    "es" -> Seq("el", "la", "de", "los", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
  )

  /** Heuristic language ID: argmax of marker-word hit counts with a
    * fixed precedence order (first listed language wins ties); "und"
    * when nothing matches. Deterministic by construction. */
  def langId(text: Column): Column = {
    val hits = langMarkers.map { case (lang, words) => lang -> stopwordHits(text, words) }
    hits.zipWithIndex
      .foldRight(lit("und")) { case (((lang, h), i), acc) =>
        val laterHits = hits.drop(i + 1).map(_._2)
        val isMax     = laterHits.foldLeft(h > 0)((c, other) => c && h >= other)
        when(isMax, lit(lang)).otherwise(acc)
      }
  }

  /** Content fingerprint: md5 of the whitespace-normalized text. The
    * normalization makes the fingerprint stable under formatting-only
    * edits — the cheap first pass of exact deduplication. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(text, "\\s+", " ")))

  /** Collapse consecutive repeated tokens — within-document repetition
    * REMOVAL (the cleaning twin of the Gopher-rule repetition
    * MEASURES below): stuttered generations / OCR echoes ("the the
    * the") keep their first occurrence only; non-adjacent repeats are
    * legitimate prose and survive. Pure per-row higher-order
    * expression — the index-lambda filter compares each token to its
    * predecessor — so the pass is map-only and rides the scan with
    * zero shuffle at any corpus size.
    *
    * @return (id, n_tokens, n_kept, clean_text) — `clean_text` is the
    *         space-rejoin of survivors; empty/whitespace-only docs
    *         pass through unchanged with n_tokens = n_kept. */
  def collapseRepeats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(textCol))
      .withColumn("__toks", split(col(textCol), " "))
      // filter's lambda index is 0-based; arr[i-1] ([] is 0-based in
      // Spark SQL) is the predecessor, guarded by the i = 0 arm
      .withColumn("__kept", expr("filter(__toks, (x, i) -> i = 0 OR x != __toks[i - 1])"))
      .select(
        col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("clean_text"),
      )

  /** Type-token ratio (distinct tokens / tokens) — the simplest
    * repetition signal in the Gopher-rule quality family; low values
    * mean boilerplate/looped text. Null on empty docs. */
  def typeTokenRatio(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(null))
      .otherwise(size(array_distinct(toks)) / size(toks).cast("double"))
  }

  /** Fraction of all bigram occurrences taken by the single most
    * frequent bigram — the "top n-gram fraction" repetition rule. Pure
    * per-row higher-order expressions (O(distinct² ) per doc, which is
    * trivial at document length): no explode, no shuffle, the whole
    * metric rides the scan like every other quality signal. Null when
    * the doc has fewer than two tokens. */
  def topBigramFraction(text: Column): Column = {
    // shingles() guards the short-doc case (< 2 tokens -> empty array);
    // a raw sequence(1, size-1) would DESCEND for size <= 1 under
    // Spark's default step and evaluate out-of-bounds element_at.
    val bg = shingles(tokens(text), 2)
    val counts = transform(array_distinct(bg), x => size(filter(bg, y => y === x)))
    when(size(bg) === 0, lit(null))
      .otherwise(array_max(counts) / size(bg).cast("double"))
  }

  /** Greedy sequence packing by token budget — the operation that turns
    * a cleaned corpus into fixed-size training context windows:
    * documents are concatenated in (`partitionCol`, `idCol`) order and
    * each document is assigned the index of the `budget`-token window
    * its FIRST token lands in (`pack_id`), plus its token offset within
    * the stream (`start_tok`). A document longer than the remaining
    * window straddles into the next one — the standard concatenate-
    * then-chunk packing LLM pipelines use, not bin packing (which is
    * order-sensitive and not relational).
    *
    * One window function over (`partitionCol`) — the shuffle is by the
    * stream key (source/shard), which is exactly how a 100 TB packing
    * job parallelizes: each stream packs independently; window order is
    * the deterministic `idCol`. */
  def packByBudget(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      budget: Int,
      partitionCol: String,
  ): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCol)
      .orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tok", tokenCount(col(textCol)).cast("long"))
      .withColumn("start_tok", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("start_tok") / budget))
      .select(col(idCol), col(partitionCol), col("n_tok"), col("start_tok"), col("pack_id"))
  }

  /** RAG-style document chunking: fixed token windows with overlap —
    * the retrieval-corpus preprocessing step (split every document
    * into `chunkSize`-token chunks whose starts advance by
    * `chunkSize − overlap`, so consecutive chunks share `overlap`
    * tokens and no sentence-boundary context is lost to a hard cut).
    * Chunk ids are `(doc, start/stride)` — stable and reproducible:
    * re-chunking an unchanged document yields byte-identical chunks,
    * which is what lets a chunk-level embedding index be maintained
    * incrementally ([[Similarity.ivfAppend]]'s delta discipline).
    *
    * One explode per document (≤ n/stride chunks) over a map-only
    * token split — no shuffle at all; the scan parallelizes chunking
    * for free. Empty documents produce no chunks. The final window is
    * allowed to be shorter than `chunkSize` (standard; droppable by a
    * `n_tok` filter if a model needs full windows) — but start
    * generation STOPS once a window reaches the document end: the last
    * start is the smallest stride multiple s with s + chunkSize ≥ n
    * (clamped to 0). Without the bound, any tail of ≤ `overlap` tokens
    * would become its own chunk that is wholly contained in the
    * previous chunk, inflating a retrieval index with pure
    * duplicates. */
  def chunkTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      overlap: Int,
  ): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize, s"need 0 <= overlap < chunkSize, got $overlap")
    val stride = chunkSize - overlap
    docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(
        col(idCol),
        col("__toks"),
        // last start = ceil((n - chunkSize)/stride)·stride, clamped ≥ 0
        // (integer div truncates toward zero; negatives clamp to 0 anyway)
        explode(
          sequence(
            lit(0),
            greatest(
              lit(0),
              expr(s"((size(__toks) - $chunkSize + ${stride - 1}) div $stride) * $stride").cast("int"),
            ),
            lit(stride),
          )
        ).as("__start"),
      )
      .select(
        col(idCol),
        (col("__start") / stride).cast("long").as("chunk_id"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(chunkSize)), " ").as("chunk_text"),
        size(slice(col("__toks"), col("__start") + 1, lit(chunkSize))).cast("long").as("n_tok"),
      )
  }

  /** Exact lower-quantile pruning over a BOUNDED-INTEGER score column
    * — drop the worst `quantilePpm`/10⁶ of rows by score (the
    * perplexity-pruning step of CCNet/Gopher-style curation, here on
    * [[bigramLmScoreFromTables]]' integer-ppm scores): keep every row whose
    * score is ≥ the exact q-quantile threshold.
    *
    * The 100 TB trick is that EXACT quantiles over a bounded integer
    * domain need no global sort and no per-row ranking: one hash
    * aggregate builds the score HISTOGRAM (≤ 10⁶+1 rows — bounded by
    * the DOMAIN, not the corpus), a cumulative window over that tiny
    * table finds the smallest score whose cumulative count exceeds
    * ⌊q·n⌋, and the threshold joins back as a broadcast scalar
    * predicate. Ties sit wholly on one side (score < threshold drops),
    * so the kept set is deterministic with no tiebreak ranking —
    * `kept ≥ (1−q)·n` by construction. Contrast: `row_number` over the
    * corpus is a single-partition window; `percentile_approx` is
    * approximate. Bounded-domain histogram is both exact and scan-
    * shaped. */
  def pruneByScoreQuantile(
      scored: DataFrame,
      scoreCol: String,
      quantilePpm: Long,
  ): DataFrame = {
    require(quantilePpm >= 0 && quantilePpm <= 1000000L, s"quantilePpm in [0,1e6], got $quantilePpm")
    val hist = scored.groupBy(col(scoreCol).as("__s")).agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // the single-partition window is over the HISTOGRAM (domain-bounded);
    // the total row count is the histogram's own full-frame sum — same
    // window pass, so the corpus is scanned exactly twice in total
    // (histogram build + final filter), the minimum for any
    // threshold-then-filter
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(col("__s"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing,
      )
    val thresh = hist
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .filter(col("__cum") > expr(s"(__n * ${quantilePpm}L) div 1000000L"))
      .agg(min(col("__s")).as("__thresh"))
    scored.crossJoin(broadcast(thresh)).filter(col(scoreCol) >= col("__thresh")).drop("__thresh")
  }

  /** Corpus-trained bigram language-model score — the perplexity-proxy
    * quality signal (CCNet/Gopher filter by LM perplexity; this is the
    * n-gram form of that, trained on the corpus itself): per bigram
    * occurrence the conditional probability P(w₂|w₁) as an integer
    * ppm, ⌊c(w₁w₂)·10⁶ / c(w₁·)⌋, and per document the mean over its
    * bigram occurrences, again floored. Predictable text (frequent
    * continuations) scores high; gibberish and boilerplate-free noise
    * score low. Deliberately integer end-to-end: log-space perplexity
    * would drag engine-specific `ln` rounding into the gate, while
    * floor-ppm arithmetic is bit-identical everywhere and
    * order-independent (integer sums). Documents with < 2 tokens have
    * no bigrams and are excluded (score undefined, not zero).
    *
    * The two vocabulary-sized count tables come from a prebuilt
    * [[NgramCounts.NgramTables]] artifact (the write-once n-gram store,
    * summed over the train/test slice flag — c(w₁·) is the
    * prefix-marginal of the bigram table, so no unigram scan is
    * needed), leaving ONE corpus pass (the per-document scoring
    * explode). Bit-identical to the direct census form (OpsSpec
    * equality pin against its test-scope reference). */
  def bigramLmScoreFromTables(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      t: NgramCounts.NgramTables,
  ): DataFrame = {
    val withToks = docs
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 2)
    val bgs = withToks
      .select(
        col(idCol),
        explode(
          expr("transform(sequence(1, size(__t) - 1), i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1)))")
        ).as("bg"),
      )
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val c2 = t.bi
      .groupBy(concat_ws(" ", col("w1"), col("w2")).as("bg"))
      .agg(sum(col("c")).as("__c2"))
    val c1 = t.bi.groupBy("w1").agg(sum(col("c")).as("__c1"))
    bgs
      .join(c2, Seq("bg"))
      .join(c1, Seq("w1"))
      .select(col(idCol), expr("(__c2 * 1000000L) div __c1").as("__p"))
      .groupBy(col(idCol))
      .agg(
        expr("sum(__p) div count(1)").as("lm_score_ppm"),
        count(lit(1)).as("n_bigrams"),
      )
  }

  /** Trigram language-model scoring with STUPID BACKOFF (Brants et al.
    * 2007, "Large Language Models in Machine Translation" §4) — the
    * web-scale LM quality score: no discounting, no normalization,
    * just count ratios with a fixed back-off penalty α = 0.4. Held-out
    * evaluation: n-gram counts come from the `!isTest` (train) slice
    * only, scored positions from the `isTest` slice — on a
    * self-trained model every observed trigram hits and backoff is
    * dead code.
    *
    * Per test trigram (t₁,t₂,t₃), in exact floored integer ppm with
    * α = 2/5 and α² = 4/25 kept as integer ratios:
    *
    *   c₃(t₁t₂t₃) > 0 → 10⁶·c₃/c₂(t₁t₂)         (c₂ > 0 whenever c₃ > 0)
    *   c₂(t₂t₃) > 0  → (2·(10⁶·c₂(t₂t₃)/c₁(t₂))) / 5
    *   c₁(t₃) > 0    → (4·(10⁶·c₁(t₃)/N)) / 25
    *   else          → 0   (out-of-vocabulary)
    *
    * The train-side count tables and the token total are slice
    * filters over a prebuilt [[NgramCounts.NgramTables]] artifact whose
    * slice flag was built with the SAME `isTest` predicate
    * (vocabulary-sized), leaving one corpus pass (the test-position
    * explode). Per doc: (n_trigrams, per-level hit counts, mean
    * score). Bit-identical to the direct census form (OpsSpec equality
    * pin against its test-scope reference). */
  def trigramBackoffScoreFromTables(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTest: Column,
      t: NgramCounts.NgramTables,
  ): DataFrame = {
    val c1   = t.uni.filter(!col("is_test")).select(col("w"), col("c").as("__c1"))
    val nTot = t.uni.filter(!col("is_test")).agg(sum(col("c")).as("__n"))
    val c2 = t.bi
      .filter(!col("is_test"))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bg"), col("c").as("__c2"))
    val c3 = t.tri.filter(!col("is_test")).select(col("tg"), col("c").as("__c3"))
    backoffScorePositions(docs, idCol, textCol, isTest, c1, nTot, c2, c3)
  }

  /** Scoring stage of [[trigramBackoffScoreFromTables]]: explode the
    * test-slice trigram positions and backoff-join them against the supplied train-side
    * count tables (`c1(w, __c1)`, `nTot(__n)`, `c2(bg, __c2)`,
    * `c3(tg, __c3)`). */
  private[ops] def backoffScorePositions(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTest: Column,
      c1: DataFrame,
      nTot: DataFrame,
      c2: DataFrame,
      c3: DataFrame,
  ): DataFrame = {
    val withToks = docs.select(col(idCol), isTest.as("__test"), tokens(col(textCol)).as("__t"))
    val positions = withToks
      .filter(col("__test") && size(col("__t")) >= 3)
      .select(
        col(idCol),
        explode(
          expr(
            """transform(sequence(1, size(__t) - 2), i -> struct(
              |  concat(element_at(__t, i), ' ', element_at(__t, i + 1), ' ', element_at(__t, i + 2)) AS tg,
              |  concat(element_at(__t, i), ' ', element_at(__t, i + 1)) AS ctx2,
              |  concat(element_at(__t, i + 1), ' ', element_at(__t, i + 2)) AS bg,
              |  element_at(__t, i + 1) AS w2,
              |  element_at(__t, i + 2) AS w3))""".stripMargin
          )
        ).as("__q"),
      )
      .select(col(idCol), col("__q.tg").as("tg"), col("__q.ctx2").as("ctx2"),
        col("__q.bg").as("bg"), col("__q.w2").as("w2"), col("__q.w3").as("w3"))
    val joined = positions
      .join(c3, Seq("tg"), "left")
      .join(c2.withColumnRenamed("bg", "ctx2").withColumnRenamed("__c2", "__c2ctx"), Seq("ctx2"), "left")
      .join(c2.withColumnRenamed("__c2", "__c2b"), Seq("bg"), "left")
      .join(c1.withColumnRenamed("w", "w2").withColumnRenamed("__c1", "__c1ctx"), Seq("w2"), "left")
      .join(c1.withColumnRenamed("w", "w3").withColumnRenamed("__c1", "__c1b"), Seq("w3"), "left")
      .crossJoin(broadcast(nTot))
    joined
      .select(
        col(idCol),
        expr(
          """CASE WHEN __c3 IS NOT NULL THEN (__c3 * 1000000L) div __c2ctx
            |     WHEN __c2b IS NOT NULL THEN (2L * ((__c2b * 1000000L) div __c1ctx)) div 5
            |     WHEN __c1b IS NOT NULL THEN (4L * ((__c1b * 1000000L) div __n)) div 25
            |     ELSE 0L END""".stripMargin
        ).as("__p"),
        expr(
          """CASE WHEN __c3 IS NOT NULL THEN 3
            |     WHEN __c2b IS NOT NULL THEN 2
            |     WHEN __c1b IS NOT NULL THEN 1 ELSE 0 END""".stripMargin
        ).as("__lvl"),
      )
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_trigrams"),
        sum(when(col("__lvl") === 3, 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("__lvl") === 2, 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("__lvl") === 1, 1L).otherwise(0L)).as("n_uni"),
        sum(when(col("__lvl") === 0, 1L).otherwise(0L)).as("n_oov"),
        expr("sum(__p) div count(1)").as("lm_score_ppm"),
      )
  }

  /** Top-k characteristic terms per document by tf-idf with a LINEAR
    * inverse document frequency: score = tf · (N / df), no log damping.
    * Every step — counts, one double division, one multiplication — is
    * exactly rounded under IEEE-754, so the score (and therefore the
    * top-k cut) is bit-identical across engines; a log-based idf cannot
    * promise that (libm `log` differs in the last ulp between
    * runtimes). Ties order by (score DESC, term ASC) — deterministic.
    *
    * Dataflow at corpus scale: explode → tf aggregate keyed
    * (doc, term) → document frequency as a COUNT window over the tf
    * frame partitioned by term (tf rows are distinct (doc, term), so
    * the windowed count IS the document frequency) → corpus size
    * joined as a broadcast 1-row aggregate (stays in-plan, no driver
    * collect) → one per-doc window for the top-k. The window-based df
    * keeps the whole operator a single linear pipeline over ONE
    * explode — the naive tf ⋈ (tf groupBy term) self-join recomputes
    * the explode on both branches (column pruning rewrites the two
    * subtrees differently, defeating exchange reuse), which at web
    * scale doubles the heaviest stage.
    */
  /** Inverted-index build — retrieval's core artifact (term → posting
    * list), the batch companion of [[tfIdfTopK]]: per term, its
    * document frequency `df`, collection frequency `cf`, and a CAPPED
    * posting list of the `cap` lowest doc ids. The cap is the
    * load-bearing scale decision: an uncapped `collect_list` on a
    * stopword term materializes one array entry per document in the
    * corpus inside a single aggregation buffer — the exact
    * single-key-blowup failure mode the co-purchase heavy-hitter cap
    * guards. Here the cap is enforced BEFORE collection by a per-term
    * `row_number` over the (term, doc) pre-aggregate (map-combinable,
    * so the explode's raw occurrence volume never shuffles), and the
    * per-term sort that backs it runs over distinct DOCS per term —
    * bounded by df, with the truncation making the collected array ≤
    * `cap` entries always. Real engines shard hot terms' full postings
    * across blocks; the capped head plus exact (df, cf) is the
    * honest single-table form, and `df > cap` tells the reader the
    * list was truncated. Postings are ascending doc ids (index order),
    * so the row is deterministic under any partitioning.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"posting cap must be >= 1, got $cap")
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    val tf    = terms.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val stats = tf
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).cast("long").as("cf"))
    val w = Window.partitionBy("term").orderBy("doc_id")
    val postings = tf
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .groupBy("term")
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
    stats.join(postings, Seq("term"))
  }

  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    val tf    = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val n     = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val wTerm = Window.partitionBy("term")
    val wDoc  = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * (col("n_docs") / col("df")))
      .withColumn("rnk", row_number().over(wDoc))
      .filter(col("rnk") <= k)
      .select("doc_id", "term", "tf", "df", "score", "rnk")
  }

  /** Per-document rare-token statistics — the unigram-frequency quality
    * filter (CCNet-style: documents dominated by tokens the corpus has
    * barely seen are OCR junk, codes, or noise). A token is "rare" when
    * its corpus occurrence count is under `pctThreshold` percent of all
    * token occurrences; the test is pure integer arithmetic
    * (c · 100 < pct · total), so no float crosses an engine boundary
    * except the final exactly-rounded rare fraction.
    *
    * Dataflow: explode → corpus unigram counts (one aggregate keyed by
    * term) → corpus total as a second 1-row aggregate over the counts
    * (reuses the counts, not the scan) → occurrences ⋈ counts on term
    * (long-tailed at web scale: shuffle join, AQE may broadcast) → one
    * per-doc aggregate. Documents with zero tokens have no occurrence
    * rows and drop out — same semantics in the SQL oracle.
    */
  def rareTokenStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pctThreshold: Int,
  ): DataFrame = {
    require(pctThreshold >= 1 && pctThreshold <= 100, s"pctThreshold out of range: $pctThreshold")
    val terms = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    val cnt   = terms.groupBy("term").agg(count(lit(1)).as("c"))
    val tot   = cnt.agg(sum(col("c")).as("total"))
    terms
      .join(cnt, "term")
      .crossJoin(broadcast(tot))
      .withColumn("is_rare", when(col("c") * 100 < col("total") * pctThreshold, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        sum(col("is_rare")).as("n_rare"),
        (sum(col("is_rare")).cast("double") / count(lit(1))).as("rare_frac"),
      )
  }

  /** Source-level (domain-level) quality gating — the URL/domain
    * filter of CCNet/RefinedWeb-style pipelines: curation decisions at
    * the SOURCE granularity, because a domain that averages junk stays
    * junk at the document level too. Keeps documents whose source's
    * mean per-document score clears `minMean`; `score` must be an
    * integer-valued Column (e.g. [[tokenCount]]) so the mean test runs
    * as `SUM(score) >= minMean · COUNT(*)` — one long sum and one
    * multiply, no float accumulation, bit-identical across engines.
    *
    * Scale shape: the per-source aggregate is map-side combinable and
    * its result is one row per DOMAIN. When domains number in the
    * thousands AQE broadcasts the keep set back as a semi join and the
    * corpus never shuffles; at web scale (hundreds of millions of
    * registrable domains) the keep side is NOT broadcast-safe, so the
    * hint is deliberately absent — the planner falls back to a
    * domain-keyed shuffle join when the side outgrows the threshold
    * instead of OOMing the driver on a hard-coded hint. */
  def sourceFilter(
      docs: DataFrame,
      sourceCol: String,
      score: Column,
      minMean: Double,
  ): DataFrame = {
    val keep = docs
      .groupBy(col(sourceCol))
      .agg(sum(score.cast("long")).as("__tot"), count(lit(1)).as("__n"))
      .filter(col("__tot").cast("double") >= lit(minMean) * col("__n"))
      .select(col(sourceCol))
    docs.join(keep, Seq(sourceCol), "left_semi")
  }

  /** Composed per-document quality report — the Gopher-rule filter log
    * a pipeline writes next to its cleaned corpus: every scan-local
    * signal (token bounds, marker-word language ID, type-token ratio,
    * top-bigram fraction) plus the keep verdict and the FIRST failing
    * reason in a fixed precedence order (too_short, too_long, lang,
    * repetitive_ttr, repetitive_bigram). One map-only pass — no joins,
    * no shuffle, the report rides the scan; every signal is
    * exactly-rounded arithmetic, so verdicts are bit-identical across
    * engines. Null-guarded signals (ttr/bigram on degenerate docs)
    * fall through their CASE arms — the bound checks precede them. */
  def qualityReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int,
      maxTokens: Int,
      languages: Seq[String],
      minTtr: Double,
      maxTopBigram: Double,
  ): DataFrame = {
    require(minTokens <= maxTokens, s"empty token window [$minTokens, $maxTokens]")
    docs
      .select(
        col(idCol).as("doc_id"),
        tokenCount(col(textCol)).cast("long").as("n_tok"),
        langId(col(textCol)).as("lang_pred"),
        typeTokenRatio(col(textCol)).as("ttr"),
        topBigramFraction(col(textCol)).as("top_bigram_frac"),
      )
      .withColumn(
        "reason",
        when(col("n_tok") < minTokens, "too_short")
          .when(col("n_tok") > maxTokens, "too_long")
          .when(!col("lang_pred").isin(languages: _*), "lang")
          .when(col("ttr") < minTtr, "repetitive_ttr")
          .when(col("top_bigram_frac") > maxTopBigram, "repetitive_bigram"),
      )
      .withColumn("keep", col("reason").isNull)
  }

  /** Corpus-level frequent n-grams: the `k` shingles present in the
    * most documents, ties broken by the shingle itself — the
    * boilerplate-phrase detector (navigation chrome, license headers,
    * templated sentences recur across documents; their document
    * frequency is the signal). Each document contributes its DISTINCT
    * shingles once, so the count is a true document frequency, immune
    * to within-doc repetition.
    *
    * Dataflow at corpus scale: explode distinct shingles → one
    * aggregate keyed by shingle (map-side partial combine collapses
    * the frequent head before the shuffle) → global top-k, which plans
    * as TakeOrderedAndProject — every partition forwards at most `k`
    * rows, no global sort materializes. */
  def frequentShingles(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int,
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // native generator: one streaming pass, no per-row HOF chain (the
    // composed transform/element_at form costs ~20x at corpus scale)
    Dedup
      .shingleSets(docs, idCol, textCol, n)
      .groupBy("sh")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("sh").asc)
      .limit(k)
  }

  /** Per-document boilerplate statistics: how much of a document is
    * made of corpus-frequent phrases. For each document, the count of
    * its distinct `n`-gram shingles, the count of those whose corpus
    * document frequency is at least `minDf`, and the exactly-rounded
    * fraction — the cross-document complement of the within-document
    * repetition rules ([[typeTokenRatio]], [[topBigramFraction]]):
    * a high boilerplate fraction marks templated/mirrored content even
    * when each individual copy looks clean. Documents with fewer than
    * `n` tokens have no shingles and drop out (same semantics in SQL).
    *
    * Dataflow mirrors [[tfIdfTopK]]'s single-explode pipeline: distinct
    * (doc, shingle) rows → document frequency as a COUNT window
    * partitioned by shingle (rows are distinct per doc, so the windowed
    * count IS the df) → one per-doc aggregate. One explode, one linear
    * pipeline — no self-join that would recompute the shingling. */
  def boilerplateStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minDf: Long,
  ): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    import org.apache.spark.sql.expressions.Window
    // native generator pass, same reasoning as [[frequentShingles]]
    val sh = Dedup.shingleSets(docs, idCol, textCol, n)
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_frequent"),
        (sum(when(col("df") >= minDf, 1L).otherwise(0L)).cast("double") / count(lit(1)))
          .as("boilerplate_frac"),
      )
  }

  /** Corpus-level collocation extraction ranked by LIFT — the
    * association measure behind PMI (Church & Hanks 1990: PMI is
    * log₂ of exactly this ratio, and log is monotone, so ranking by
    * lift IS ranking by PMI without a transcendental in the score):
    * for adjacent token pairs (x, y),
    * `lift = c(x,y)·N / (c(x)·c(y))`, where N is the corpus token
    * count. Pairs below `minCount` joint occurrences are dropped
    * first (the classic low-count PMI pathology: a hapax pair gets
    * an absurd score). The three factors are each exact integers
    * cast to double before one multiply and one divide — two
    * correctly-rounded IEEE ops with a pinned association order, so
    * the score is bit-deterministic cross-engine at any corpus size
    * (no int64 overflow path: the products are formed in double).
    *
    * Shape: one tokenize pass per count table (bigrams via an index
    * explode, unigrams via a token explode). The unigram table is
    * vocab-bounded and consumed three times (total + two joins), so it
    * is localCheckpointed — one build, not three replays of the
    * corpus explode (Catalyst does not reuse the exchange here: the
    * pushed null filters de-canonicalize the subtrees). The
    * total-token count rides as a 1-row cross join. The final top-k
    * is TakeOrdered over the thinned collocation table
    * (≤ N/minCount rows), never a single-partition sort, and the
    * returned k rows get their rank from a window over k rows.
    * Documents shorter than 2 tokens contribute no bigrams (same
    * semantics as the oracle's empty generate_series). */
  /** Stopword list for [[rakeKeywords]] — pinned and shared verbatim
    * with the oracle's IN-list (the [[langMarkers]] convention):
    * candidate phrases are the maximal runs BETWEEN these function
    * words. */
  val rakeStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "for", "on", "with", "as",
    "was", "at", "by", "that", "this", "are", "be", "or", "from", "but", "not", "have", "has",
  )

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents") — the classic
    * degree/frequency keyword scorer, integer-exact: candidate phrases
    * are maximal non-stopword token runs; per document each word gets
    * freq(w) = its occurrence count in phrases and deg(w) = Σ over its
    * occurrences of the containing phrase's length (RAKE's
    * co-occurrence degree); word score = deg·10⁶ div freq (floored
    * per word, the defined order); a phrase scores the sum of its
    * words' scores (with multiplicity) and the top `topK` DISTINCT
    * phrases per document win, ties by phrase text.
    *
    * Scale shape: one tokenize pass; the phrase segmentation is a
    * per-document running count of stopword positions (a per-doc
    * window over token rows — partition-bounded by document length,
    * never corpus-wide); two keyed aggregations (phrase table,
    * word-stat table, both ≤ token count) and a k-bounded rank window.
    *
    * @return (doc_id, phrase, n_words, score_ppm, rnk). */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val stopArr = array(rakeStopwords.map(lit(_)): _*)
    val toksDf = docs.select(
      col(idCol).as("doc_id"),
      posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "w")),
    )
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val occ = toksDf
      .withColumn("__stop", array_contains(stopArr, col("w")))
      .withColumn("ph", sum(when(col("__stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("__stop"))
      .select("doc_id", "ph", "pos", "w")
    val plen = occ.groupBy("doc_id", "ph").agg(count(lit(1)).as("plen"))
    val wstat = occ
      .join(plen, Seq("doc_id", "ph"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore", expr("deg * 1000000L div freq"))
    val phrases = occ
      .join(wstat.select("doc_id", "w", "wscore"), Seq("doc_id", "w"))
      .groupBy("doc_id", "ph")
      .agg(
        expr("array_join(transform(sort_array(collect_list(struct(pos, w))), x -> x.w), ' ')")
          .as("phrase"),
        count(lit(1)).as("n_words"),
        sum(col("wscore")).as("score_ppm"),
      )
      .select("doc_id", "phrase", "n_words", "score_ppm")
      .distinct() // identical phrase instances score identically
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score_ppm").desc, col("phrase"))
    phrases
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .filter(col("rnk") <= topK)
  }

  def collocations(
      docs: DataFrame,
      textCol: String,
      minCount: Long,
      k: Int,
  ): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(tokens(lower(col(textCol))).as("__t"))
    val uni = toks
      .select(explode(col("__t")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // vocab-bounded; consumed 3× below
    val tot = uni.agg(sum(col("c")).as("nt"))
    val big = toks
      // a <2-token doc has no bigrams; sequence(1, size-1) would
      // otherwise DESCEND (Spark semantics) and element_at would throw
      .filter(size(col("__t")) >= 2)
      .select(explode(sequence(lit(1), size(col("__t")) - 1)).as("__i"), col("__t"))
      .select(
        element_at(col("__t"), col("__i")).as("w1"),
        element_at(col("__t"), col("__i") + 1).as("w2"),
      )
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val lifted = big
      .join(uni.select(col("w").as("w1"), col("c").as("__c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("__c2")), "w2")
      .crossJoin(broadcast(tot))
      .select(
        col("w1"),
        col("w2"),
        col("c_xy"),
        ((col("c_xy").cast("double") * col("nt")) /
          (col("__c1").cast("double") * col("__c2"))).as("lift"),
      )
    val w = Window.orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
    lifted
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(k) // TakeOrdered — bounded driver-side k rows
      .withColumn("rnk", row_number().over(w))
  }

  /** Negative-sampling distribution table — the word2vec/SGNS unigram^α
    * table at α = 3/4 (Mikolov 2013: raising the unigram distribution
    * to the 3/4 power up-weights rare words as negatives). α is pinned
    * to 3/4 ON PURPOSE (the [[Sampling.temperatureSqrt]] argument):
    * c^(3/4) = sqrt(c·sqrt(c)) is a composition of two correctly-
    * rounded square roots and one multiply — bit-deterministic in any
    * IEEE engine — where a general `pow(c, α)` is not correctly
    * rounded everywhere. The normalizer Σw sums the weights through
    * DECIMAL(38,12) (each double rounded to 12 fractional digits by
    * the CAST — a deterministic per-value rounding, NOT an
    * order-dependent float sum), and each share is one flooring
    * integer-scaled division — so the whole table is engine-exact.
    *
    * Shape: one tokenize pass → vocab-keyed count → map-side weight
    * arithmetic + a 1-row broadcast normalizer. Output is vocab-sized
    * (the sampler's input table — at serving time a consumer builds
    * its alias table from these ppm shares). */
  def negSamplingTable(docs: DataFrame, textCol: String): DataFrame = {
    val cnt = docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
      .withColumn("wt", sqrt(col("c") * sqrt(col("c"))))
    val tot = cnt.agg(
      expr("CAST(SUM(CAST(wt AS DECIMAL(38,12))) AS DOUBLE)").as("__tot")
    )
    cnt
      .crossJoin(broadcast(tot))
      .select(
        col("w"),
        col("c"),
        col("wt"),
        // ppm share: floor(wt·10⁶ / Σw) — one rounded multiply, one
        // rounded divide, one floor; identical association both engines
        floor(col("wt") * lit(1000000.0) / col("__tot")).cast("long").as("share_ppm"),
      )
  }

  /** Skip-gram positive-pair generation — the other half of SGNS
    * training data next to [[negSamplingTable]]: for every token
    * position, the (center, context) pairs within a symmetric window
    * of `window` positions (offset 0 excluded), aggregated to
    * co-occurrence counts. This is word2vec's input pipeline and —
    * with the pair counts kept — also the raw table GloVe/PMI-style
    * methods factorize.
    *
    * Shape: one tokenize pass; per position, the window's pairs are
    * produced by a bounded flatten-of-transforms (2·window candidate
    * offsets, clamped at document edges) BEFORE the explode, so the
    * row expansion is the pair list itself — then one vocab²-bounded
    * keyed aggregation. Map-side partial aggregation absorbs the
    * window multiplicity; no self-join, no shuffle of positions. */
  def skipGramPairs(docs: DataFrame, textCol: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val offsets = (-window to window).filter(_ != 0)
    val toks    = docs.select(tokens(lower(col(textCol))).as("__t"))
    toks
      .filter(size(col("__t")) >= 2)
      .select(
        explode(
          flatten(
            transform(
              sequence(lit(1), size(col("__t"))),
              i =>
                filter(
                  array(offsets.map(o =>
                    when(
                      i + o >= 1 && i + o <= size(col("__t")),
                      struct(
                        element_at(col("__t"), i).as("w_center"),
                        element_at(col("__t"), i + lit(o)).as("w_ctx"),
                      ),
                    ).otherwise(lit(null))
                  ): _*),
                  p => p.isNotNull,
                ),
            )
          )
        ).as("__p")
      )
      .select(col("__p.w_center").as("w_center"), col("__p.w_ctx").as("w_ctx"))
      .groupBy("w_center", "w_ctx")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Per-stratum vocabulary statistics — the Zipf/Heaps corpus census
    * (token mass, type count, hapax legomena) a tokenizer-training or
    * data-mixing run reads before committing: a stratum whose hapax
    * share is abnormally high is noisy or under-normalized; one whose
    * type count stopped growing is saturated/duplicated. All counts
    * exact integers; the hapax share in ppm via one flooring div of
    * exact counts.
    *
    * Shape: one tokenize pass → (stratum, token) keyed aggregation
    * (vocab-×-strata-bounded output, partial aggregation does the
    * token mass map-side) → one |vocab|-bounded re-aggregation per
    * stratum. No corpus-wide structure. */
  def vocabStats(docs: DataFrame, strataCol: String, textCol: String): DataFrame =
    docs
      .select(col(strataCol).as("stratum"), explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy("stratum", "w")
      .agg(count(lit(1)).as("__c"))
      .groupBy("stratum")
      .agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        coalesce(sum(when(col("__c") === 1, lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("hapax"),
      )
      .withColumn("hapax_ppm", expr("(hapax * 1000000L) div vocab"))

  /** Digit masking that keeps the last `keep` characters intact: every
    * digit in the prefix becomes 'X'. The PII-redaction primitive for
    * identifiers (account numbers, phone digits) where the tail is kept
    * for human cross-checking. Strings of length <= `keep` pass
    * through unmasked. */
  def maskDigitsKeepLast(c: Column, keep: Int): Column = {
    require(keep >= 0, s"keep must be >= 0, got $keep")
    when(length(c) <= keep, c).otherwise(
      concat(
        regexp_replace(substring(c, lit(1), length(c) - keep), "[0-9]", "X"),
        substring(c, length(c) - (keep - 1), lit(keep)),
      )
    )
  }

  /** Salted sha256 pseudonym (lowercase hex) — the reversible-only-with-
    * the-salt replacement for a direct identifier. The salt keeps the
    * pseudonym join-stable within a pipeline run while blocking
    * rainbow-table reversal of the bare value. */
  def pseudonym(c: Column, salt: String): Column =
    sha2(concat(lit(salt), c), 256)

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): hash
    * the ordered n-gram sequence, slide a window of `w` consecutive
    * hashes, keep each window's minimum — the selected distinct minima
    * are position-robust fingerprints (guaranteed to share a value with
    * any document that shares an n-gram run of length >= w+n-1).
    * Variant note: tail windows shorter than `w` are kept.
    */
  def winnowFingerprints(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      w: Int,
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shingled = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), posexplode(shingles(col("__toks"), n)).as(Seq("pos", "sh")))
    val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.currentRow, w - 1)
    shingled
      .withColumn("wmin", min(md5(col("sh"))).over(win))
      .groupBy("doc_id")
      .agg(countDistinct(col("wmin")).as("n_fingerprints"), min(col("wmin")).as("min_fp"))
  }

  /** BM25 ranked retrieval (Robertson & Walker's Okapi weighting with
    * k1 = 1.2, b = 0.75) over multi-term queries, in INTEGER
    * arithmetic end-to-end so the gate is exact across engines:
    *
    *  - the tf saturation term tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) is
    *    a rational in (tf, dl, total tokens T, doc count N); clearing
    *    denominators by 10·T gives 22·tf·T / (10·tf·T + 3·T + 9·dl·N)
    *    — exact integers, one flooring `div` per (query, doc, term),
    *    with BOTH sides of the div in DECIMAL(38,0) (the
    *    [[Stats.chi2Homogeneity]] convention): at corpus scale
    *    T ~ 10¹³ × tf ~ 10⁵ exceeds 2⁶³, so a BIGINT denominator
    *    would silently wrap where the numerator already didn't;
    *  - the log idf is replaced by the rank-preserving rational
    *    surrogate idf_ppm = (N − df + 1)·10⁶ div (df + 1): strictly
    *    decreasing in df like log((N−df+0.5)/(df+0.5)), so PER-TERM
    *    ordering is identical; cross-term weighting is compressed
    *    differently than the log (documented deviation — swapping in
    *    float log is a one-line change, at the cost of the exact
    *    differential this suite is built on).
    *
    * Dataflow is the inverted-index family's: explode → (doc, term)
    * tf aggregate, term df aggregate, per-doc length, two 1-row
    * totals; the query list joins in by term (broadcast — queries are
    * small by contract), score sums per (query, doc), and the top-k
    * window partitions by query. The corpus-proportional stages are
    * all keyed aggregates/joins; nothing global but the bounded
    * totals. Ties break by ascending doc id. */
  def bm25TopK(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(Int, String)],
      k: Int,
  ): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(queries.nonEmpty, "need at least one (query_id, term)")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val qdf = queries.toDF("query_id", "term")
    val terms = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    val tf    = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = docs
      .select(col(idCol).as("doc_id"), tokenCount(col(textCol)).cast("long").as("dl"))
      .filter(col("dl") > 0)
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total"))
    val scored = tf
      .join(broadcast(qdf), "term")
      .join(dfreq, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("idf_ppm", expr("((n_docs - df + 1) * 1000000L) div (df + 1)"))
      .withColumn(
        "score_ppm",
        expr(
          """CAST(idf_ppm AS DECIMAL(38,0)) * 22 * tf * total
            |  div (CAST(tf AS DECIMAL(38,0)) * total * 10
            |       + CAST(total AS DECIMAL(38,0)) * 3
            |       + CAST(dl AS DECIMAL(38,0)) * n_docs * 9)""".stripMargin
        ),
      )
      .groupBy("query_id", "doc_id")
      .agg(sum(col("score_ppm")).cast("long").as("score_ppm"))
    val w = Window.partitionBy("query_id").orderBy(col("score_ppm").desc, col("doc_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "doc_id", "score_ppm", "rnk")
  }

  /** Sequence packing for LLM training — the concatenate-and-chop
    * model (GPT-2/3 data prep, Brown et al. 2020 §2.2; also T5's
    * "packing"): documents are laid end-to-end in a deterministic
    * order (ascending id) and the token stream is cut into fixed
    * `budget`-token training windows; a document straddling a cut
    * contributes its pieces to BOTH windows. Returns one row per
    * (window, document) overlap — the pack manifest a training
    * dataloader consumes: `window_id`, `doc_id`, `doc_start`/`doc_end`
    * (the global token offsets of the document), `tok_in_window`.
    *
    * The global offset of each document is an exclusive prefix sum —
    * the textbook two-phase distributed scan, NOT a single-partition
    * window over the corpus:
    *  1. per-shard local cumsum (window partitioned by shard — all
    *     shards in parallel),
    *  2. shard base offsets from the |shards|-row totals table (a
    *     bounded single-partition window — |shards| rows, never the
    *     corpus), broadcast-joined back.
    * Shards are id-range blocks so shard order IS id order. A doc
    * spans at most len/budget + 1 windows, so the explode is linear
    * in total tokens / budget. Empty documents occupy no tokens and
    * are dropped (they have no window membership).
    */
  def packWindows(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      budget: Int,
      shards: Int = 64,
  ): org.apache.spark.sql.DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col(idCol).cast("long").as("doc_id"), tokenCount(col(textCol)).cast("long").as("len"))
      .filter(col("len") > 0)
    // Shard = id-range block: one 1-row max-id probe fixes the block
    // width, so shard index is monotone in doc_id.
    val maxId = toks.agg(max(col("doc_id")).as("m"))
    val sharded = toks
      .crossJoin(broadcast(maxId))
      .withColumn("shard", expr(s"doc_id div (((m + 1) + ${shards - 1}) div $shards)"))
      .drop("m")
    val wLocal = Window
      .partitionBy("shard")
      .orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sharded.withColumn("local_end", sum(col("len")).over(wLocal))
    // Shard base offsets: cumsum over the |shards|-row totals table.
    val wShard = Window
      .orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = sharded
      .groupBy("shard")
      .agg(sum(col("len")).as("shard_tokens"))
      .withColumn("base", coalesce(sum(col("shard_tokens")).over(wShard), lit(0L)))
      .select("shard", "base")
    val offsets = local
      .join(broadcast(bases), "shard")
      .withColumn("doc_end", col("base") + col("local_end"))
      .withColumn("doc_start", col("doc_end") - col("len"))
    offsets
      .select(
        col("doc_id"),
        col("doc_start"),
        col("doc_end"),
        explode(
          sequence(expr(s"doc_start div $budget"), expr(s"(doc_end - 1) div $budget"))
        ).as("window_id"),
      )
      .withColumn(
        "tok_in_window",
        least(col("doc_end"), (col("window_id") + 1) * budget) -
          greatest(col("doc_start"), col("window_id") * budget),
      )
      .select("window_id", "doc_id", "doc_start", "doc_end", "tok_in_window")
  }

  /** Sentence segmentation statistics: split on terminal-punctuation
    * runs (`[.!?]+`), keep segments with any non-space content, report
    * the count and the longest trimmed segment — the document-shape
    * signal quality classifiers bucket on (wall-of-text vs fragment
    * spam), and the pre-chunking sanity check for sentence-aligned
    * chunkers. Pure Column expressions (split + HOF filter/transform),
    * one scan, no state. Both `trim` and the regex behave identically
    * in DuckDB, so the stats are engine-exact. */
  def sentenceStats(text: Column): (Column, Column) = {
    val segs = filter(
      transform(split(text, "[.!?]+"), s => trim(s)),
      s => length(s) > 0,
    )
    (size(segs), array_max(transform(segs, s => length(s))))
  }

  /** Hashing-trick sparse bag-of-words (Weinberger et al. 2009): each
    * token hashes to one of `buckets` feature slots, with a second
    * hash bit choosing ±1 so collisions cancel in expectation — the
    * fixed-dimension featurizer that needs NO vocabulary pass (the
    * whole point at 100 TB: one map-side-combinable aggregate, no
    * dictionary broadcast, new tokens never resize anything).
    *
    * Hashes are md5-derived ([[Sampling]]'s hash24 idiom) so the
    * vectors are engine-replayable: bucket = first 6 hex digits mod
    * `buckets`, sign = high bit of hex digit 7. Output is the sparse
    * COO form — one row per (doc, bucket) with the token count and the
    * signed sum; empty documents yield no rows.
    *
    * Scale shape: tokenize-explode (map-only) → ONE (id, bucket) keyed
    * aggregate with partial map-side combine; output ≤ |docs|·buckets
    * but in practice ≈ |docs|·distinct-tokens-per-doc. */
  def featureHash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 256,
  ): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("__h", md5(col("tok")))
      .groupBy(
        col(idCol),
        (conv(substring(col("__h"), 1, 6), 16, 10).cast("long") % buckets).as("bucket"),
      )
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(
          when(conv(substring(col("__h"), 7, 1), 16, 10).cast("long") < 8, 1L).otherwise(-1L)
        ).as("signed_sum"),
      )
  }

  /** Readability statistics per document — the Flesch–Kincaid grade
    * as an EXACT integer rational (the quality-classifier feature and
    * curriculum-difficulty signal, computed without a single float):
    * words = `\w+` tokens, sentences = non-empty `[.!?]+` segments
    * ([[sentenceStats]]' splitter), syllables = per-word
    * `max(#[aeiouy]+ vowel groups, 1)` (the standard heuristic).
    * FK grade = 0.39·W/S + 11.8·Y/W − 15.59, stated over the common
    * denominator 100·S·W: numerator 39·W² + 1180·Y·S − 1559·S·W, so
    * `grade_ppm = ⌊numerator·10⁴ / (S·W)⌋` — FLOOR division (pmod
    * form), since the numerator goes negative for fragment spam and
    * Spark's `div` truncates where DuckDB's `//` floors.
    *
    * Scale shape: pure Column HOFs over one scan — no explode, no
    * shuffle; the per-word syllable fold runs inside codegen. */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val syl = aggregate(
      toks,
      lit(0L),
      (acc, w) =>
        acc + greatest(size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))), lit(1))
          .cast("long"),
    )
    val (nSent, _) = sentenceStats(col(textCol))
    df.select(
        col(idCol),
        size(toks).cast("long").as("n_words"),
        nSent.cast("long").as("n_sentences"),
        syl.as("n_syllables"),
      )
      .withColumn(
        "fk_grade_ppm", {
          // fd(v) = (v − pmod(v, den)) div den — the Timeseries floor
          // idiom; v appears twice because the SQL has no let-binding
          val v =
            "(39 * n_words * n_words + 1180 * n_syllables * n_sentences" +
              " - 1559 * n_sentences * n_words) * 10000"
          when(
            col("n_words") > 0 && col("n_sentences") > 0,
            expr(
              s"CAST((($v) - pmod($v, n_sentences * n_words))" +
                " div (n_sentences * n_words) AS BIGINT)"),
          )
        },
      )
  }

  /** Corpus-vs-corpus clipped n-gram precision (the BLEU-style overlap
    * statistic, used as a decontamination / memorization diagnostic):
    * for each n, matched = Σ_g min(count_cand(g), count_ref(g)) over
    * all candidate n-grams g, precision = matched / total_cand in
    * exact ppm. Clipping against the reference multiset is what makes
    * a candidate that repeats one reference phrase score honestly.
    *
    * Scale shape: two token-proportional n-gram count aggregates
    * (map-side combinable) + ONE equi-join on the gram key + a 1-row
    * rollup per n — never a doc×doc comparison. At 100 TB the gram
    * histograms are the Heaps-bounded objects, and a frequency floor
    * upstream bounds them harder if needed. */
  def ngramOverlap(
      cand: DataFrame,
      ref: DataFrame,
      textCol: String,
      ns: Seq[Int],
  ): DataFrame = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 8), s"ns must be within [1,8]: $ns")
    def grams(df: DataFrame, cntAs: String): DataFrame =
      ns.map { n =>
        df.select(lit(n).as("n"), explode(shingles(tokens(col(textCol)), n)).as("gram"))
      }.reduce(_ unionAll _)
        .groupBy("n", "gram")
        .agg(count(lit(1)).as(cntAs))
    grams(cand, "c_cand")
      .join(grams(ref, "c_ref"), Seq("n", "gram"), "left")
      .groupBy("n")
      .agg(
        sum(col("c_cand")).cast("long").as("cand_ngrams"),
        sum(least(col("c_cand"), coalesce(col("c_ref"), lit(0L)))).cast("long")
          .as("matched_ngrams"),
      )
      .withColumn(
        "precision_ppm",
        when(col("cand_ngrams") > 0, expr("(matched_ngrams * 1000000L) div cand_ngrams"))
          .otherwise(lit(0L)),
      )
  }

  /** Corpus-derived wordpiece vocabulary over a PREBUILT word
    * histogram `(word, __c)` — the deterministic stand-in for a trained
    * vocab so the whole wordpiece pipeline is engine-replayable: every
    * single character of the corpus alphabet (base + `##` continuation
    * — the coverage floor that makes mid-word failure impossible), the
    * `topWords` most frequent whole words, the `topPrefixes` most
    * frequent 2-char word prefixes, and the `topPrefixes` most frequent
    * `##`-continuation bigrams at character position 3. Ties broken by
    * piece ascending, so the vocab is a pure function of the corpus.
    *
    * Every derived top re-aggregates the vocab-bounded histogram
    * (prefix frequency = Σ word counts by prefix), so the corpus census
    * the caller already materialized (tokenize gates need the
    * distinct-word table anyway) is the only corpus pass. The
    * histogram must be distinct by `word`; pass a checkpointed frame,
    * it is consumed by several derived tops. */
  def wordpieceVocabFromHist(hist: DataFrame, topWords: Int, topPrefixes: Int): DataFrame = {
    require(topWords >= 0 && topPrefixes >= 0, s"negative top-k: $topWords/$topPrefixes")
    import org.apache.spark.sql.expressions.Window
    val words = hist.select(col("word"))
    val singles = words
      .select(
        explode(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
          .as("body"))
      .distinct()
    def topBy(grouped: DataFrame, k: Int): DataFrame =
      grouped
        .withColumn(
          "__rn",
          row_number().over(Window.orderBy(col("__c").desc, col("piece"))))
        .filter(col("__rn") <= k)
        .select("piece")
    val topw = topBy(hist.select(col("word").as("piece"), col("__c")), topWords)
    val pre2 = topBy(
      hist
        .filter(length(col("word")) >= 2)
        .groupBy(substring(col("word"), 1, 2).as("piece"))
        .agg(sum(col("__c")).as("__c")),
      topPrefixes)
    val cont2 = topBy(
      hist
        .filter(length(col("word")) >= 4)
        .groupBy(substring(col("word"), 3, 2).as("piece"))
        .agg(sum(col("__c")).as("__c")),
      topPrefixes)
      .select(concat(lit("##"), col("piece")).as("piece"))
    singles
      .select(col("body").as("piece"))
      .unionByName(singles.select(concat(lit("##"), col("body")).as("piece")))
      .unionByName(topw)
      .unionByName(pre2)
      .unionByName(cont2)
      .distinct()
  }

  /** WordPiece greedy longest-match tokenization (Schuster & Nakajima
    * 2012; the BERT tokenizer): each word is consumed left to right,
    * at every position taking the LONGEST vocab piece that matches —
    * base pieces at position 0, `##`-continuation pieces after — and
    * becoming a single `[UNK]` when no piece matches or the word
    * exceeds `maxWordLen` (the BERT long-word convention).
    *
    * The per-word while-loop (the blocker the r9 BPE note recorded)
    * is expressed as DRIVER-BOUNDED join rounds — the [[Graph]] BFS
    * shape, not a per-row UDF loop: each round left-joins the frontier
    * (words still mid-consumption) against the broadcast vocab on the
    * substring match, takes the per-word argmax piece length (greedy),
    * advances, and retires finished/failed words. The position
    * advances ≥ 1 per round, so ≤ `maxWordLen` rounds total, each
    * map-side over a DISTINCT-WORDS frame (Heaps-law-bounded — callers
    * tokenize distinct words once and join the pieces back to
    * occurrences). Cross-engine replay: a DuckDB recursive CTE with a
    * correlated max-length subquery walks the identical chain — the
    * `txt_wordpiece_tokenize` oracle replays vocab derivation and
    * tokenization end to end.
    *
    * @param words frame with a `word` column (deduplicated here)
    * @param vocab frame with a `piece` column (`##`-prefixed pieces
    *              are continuations)
    * @return (word, pieces array<string>, n_pieces, is_unk) */
  def wordpieceTokenize(words: DataFrame, vocab: DataFrame, maxWordLen: Int): DataFrame = {
    require(maxWordLen >= 1, s"maxWordLen must be >= 1, got $maxWordLen")
    val v = vocab
      .select(col("piece"))
      .distinct()
      .select(
        col("piece"),
        when(col("piece").startsWith("##"), expr("substring(piece, 3)"))
          .otherwise(col("piece"))
          .as("body"),
        col("piece").startsWith("##").as("is_cont"),
      )
      .withColumn("blen", length(col("body")))
      .filter(col("blen") >= 1)
    val init = words
      .select(col("word"))
      .distinct()
      .select(
        col("word"),
        length(col("word")).as("wlen"),
        lit(0).as("pos"),
        expr("CAST(array() AS ARRAY<STRING>)").as("pieces"),
        (length(col("word")) > maxWordLen).as("failed"),
      )
    var done     = init.filter(col("failed")).localCheckpoint(eager = false)
    var frontier = init.filter(!col("failed")).localCheckpoint(eager = false)
    var round    = 0
    // ZERO actions in the loop (r17): `pos` advances >= 1 per round, so
    // exactly maxWordLen rounds provably drain any frontier — no
    // data-dependent exit exists to read, hence no per-round count job.
    // Every lineage cut is lazy; the consumer's one action materializes
    // the whole chain (each cut persists at first touch, and `stepped`
    // is consumed twice per round — retire filter + frontier filter —
    // so the cut still computes it once). Rounds past the drain join an
    // EMPTY cached frame: no-op stages, and provably no-op on the
    // result. The r16 lazy-checkpoint+count form paid maxWordLen
    // scheduler round-trips for a statistic the drain argument already
    // pins.
    while (round < maxWordLen) {
      val stepped = frontier
        .join(
          broadcast(v),
          col("is_cont") === (col("pos") > lit(0)) &&
            col("body") === expr("substring(word, pos + 1, blen)"),
          "left",
        )
        .groupBy(col("word"))
        .agg(
          first(col("wlen")).as("wlen"),
          first(col("pos")).as("__pos"),
          first(col("pieces")).as("__pieces"),
          // null when NO piece matched (plain struct(blen, piece) would
          // surface the left join's null-field struct as a fake max)
          max(when(col("piece").isNotNull, struct(col("blen"), col("piece")))).as("__best"),
        )
        .select(
          col("word"),
          col("wlen"),
          when(col("__best").isNull, col("wlen"))
            .otherwise(col("__pos") + col("__best").getField("blen"))
            .as("pos"),
          when(col("__best").isNull, col("__pieces"))
            .otherwise(array_append(col("__pieces"), col("__best").getField("piece")))
            .as("pieces"),
          col("__best").isNull.as("failed"),
        )
        .localCheckpoint(eager = false)
      done = done.unionByName(stepped.filter(col("failed") || col("pos") >= col("wlen")))
      frontier = stepped.filter(!col("failed") && col("pos") < col("wlen"))
      round += 1
    }
    // pos advances >= 1 per round, so maxWordLen rounds always drain
    // the frontier — `done` is total here by construction
    done.select(
      col("word"),
      when(col("failed"), array(lit("[UNK]"))).otherwise(col("pieces")).as("pieces"),
      when(col("failed"), lit(1L)).otherwise(size(col("pieces")).cast("long")).as("n_pieces"),
      col("failed").as("is_unk"),
    )
  }

  /** Kneser–Ney continuation counts (Kneser & Ney 1995) — the other
    * half of the LM-smoothing toolkit beside
    * [[freqOfFreqsFromTermCounts]]: per word, the unigram count c(w),
    * the DISTINCT-left-context count N1+(•w) (how many different words
    * precede it — the KN insight: "Francisco" is frequent but only
    * ever follows "San", so its continuation mass should be tiny), the
    * distinct-right-context count N1+(w •), and the continuation
    * probability p_cont(w) = N1+(•w) / |distinct bigram types| as a
    * floored ppm.
    *
    * Over a prebuilt [[NgramCounts.NgramTables]] artifact: the distinct
    * bigram TYPES are exactly the rows of the bigram count table
    * (summed over the slice flag), and the unigram counts its marginal
    * — so the whole operator is vocabulary-sized re-aggregations with
    * no corpus scan at all. Bit-identical to the direct census form
    * (OpsSpec equality pin against its test-scope reference). */
  def knContinuationCountsFromTables(t: NgramCounts.NgramTables): DataFrame = {
    // one row per distinct bigram type; consumed thrice (total, left,
    // right) — tiny, but checkpoint so the slice re-group runs once
    val types = t.bi.select("w1", "w2").distinct().localCheckpoint(eager = false)
    val total = types.agg(count(lit(1)).as("__t"))
    val uni   = t.uni.groupBy(col("w").as("word")).agg(sum(col("c")).as("c"))
    val left  = types.groupBy(col("w2").as("word")).agg(count(lit(1)).as("n_left"))
    val right = types.groupBy(col("w1").as("word")).agg(count(lit(1)).as("n_right"))
    uni
      .join(left, Seq("word"), "left")
      .join(right, Seq("word"), "left")
      .crossJoin(broadcast(total))
      .select(
        col("word"),
        col("c"),
        coalesce(col("n_left"), lit(0L)).as("n_left"),
        coalesce(col("n_right"), lit(0L)).as("n_right"),
        expr("coalesce(n_left, 0L) * 1000000L div __t").as("pcont_ppm"),
      )
  }

  /** Frequency-of-frequencies table with Good–Turing adjusted counts
    * (Good 1953) — the LM-smoothing diagnostic: N_r = how many distinct
    * terms occur exactly r times, and the GT re-estimated count
    * r* = (r+1)·N_{r+1}/N_r that discounts observed mass toward unseen
    * events (the singleton count N₁ IS the unseen-mass estimate).
    * Reported for r ≤ `maxR` as exact integers — `gt_rstar_ppm` is the
    * floored ppm quotient, null when N_{r+1} is absent (the raw-count
    * regime where GT is unreliable anyway; smoothing past gaps is the
    * caller's modeling decision). One count-of-counts groupBy (output
    * ≤ maxR+1 rows after the early filter) and one broadcast self-join
    * on r+1 — no windows at all.
    *
    * `counts` is a per-term count table (column `r` = the term's
    * full-corpus count) — e.g. the trigram table of a
    * [[NgramCounts.NgramTables]] artifact summed over its slice flag
    * (low-r mass lives in the n-gram space; a bounded word vocabulary
    * may have no rare types at all). */
  def freqOfFreqsFromTermCounts(counts: DataFrame, maxR: Int): DataFrame = {
    require(maxR >= 1, s"maxR must be >= 1, got $maxR")
    // ≤ maxR+1 rows, consumed twice (base + shifted self-join):
    // checkpoint so the corpus-sized term aggregation runs ONCE, not
    // once per consumer.
    val nr = counts
      .filter(col("r") <= maxR + 1)
      .groupBy("r")
      .agg(count(lit(1)).as("n_r"))
      .localCheckpoint(eager = false)
    val next = nr.select((col("r") - 1).as("r"), col("n_r").as("__n_next"))
    nr.filter(col("r") <= maxR)
      .join(broadcast(next), Seq("r"), "left")
      .select(
        col("r"),
        col("n_r"),
        expr("(r + 1) * __n_next * 1000000L div n_r").as("gt_rstar_ppm"),
      )
  }

  /** CHAO1 species-richness estimate (Chao 1984, bias-corrected form)
    * over a term count table `(term, r)` — "how many n-gram types does
    * the corpus REALLY have, counting the ones we haven't sampled
    * yet": Ŝ = S_obs + f₁(f₁−1)/(2(f₂+1)), driven entirely by the
    * singleton/doubleton census that [[freqOfFreqsFromTermCounts]]
    * already reads — the coverage planner's companion to Good–Turing's
    * unseen-mass estimate (GT prices the unseen probability, Chao1
    * counts the unseen TYPES; both say when crawling more of the same
    * source stops buying vocabulary). Exact integers: the f₁² product
    * accumulates in DECIMAL(38,0) and the estimate is emitted ×10⁶
    * with floored division. One aggregation over the (vocabulary-
    * sized) count table — built for the shared [[NgramCounts]] store.
    * Output: 1 row (s_obs, f1, f2, chao1_ppm). */
  def chao1FromTermCounts(counts: DataFrame): DataFrame =
    counts
      .agg(
        count(lit(1)).as("s_obs"),
        sum(when(col("r") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("r") === 2, 1L).otherwise(0L)).as("f2"),
      )
      .withColumn("chao1_ppm", expr(chao1PpmSql))

  /** The Chao1 ppm estimate, OVERFLOW-SAFE (r15 ADVICE): the f₁²
    * quotient stays in DECIMAL(38,0) end-to-end — an IntegralDivide
    * (`div`) here would emit BIGINT and silently wrap past ~4.3M
    * singletons in non-ANSI mode while the DuckDB oracle's HUGEINT
    * errors loudly. Floored division is spelled exactly as
    * (num − num % den) / den (the division is then exact, so the
    * decimal(38,6) result carries no rounding), and a raise_error
    * guard makes a BIGINT-range exit loud instead of corrupt. */
  private val chao1PpmSql: String = {
    val num = "CAST(f1 AS DECIMAL(38,0)) * (f1 - 1) * 1000000"
    val den = "(2 * (f2 + 1))"
    val est = s"CAST(s_obs AS DECIMAL(38,0)) * 1000000 + CAST(($num - ($num % $den)) / $den AS DECIMAL(38,0))"
    s"""CASE WHEN $est > CAST(9223372036854775807 AS DECIMAL(38,0))
       |  THEN CAST(raise_error('chao1_ppm exceeds BIGINT range') AS BIGINT)
       |  ELSE CAST($est AS BIGINT) END""".stripMargin
  }

  /** CORPUS-COVERAGE REPORT — the one row a "crawl more or stop?"
    * decision reads, composing the two unseen-estimators over a term
    * count table `(term, r)`: Good–Turing sample coverage
    * 1 − f₁/N (what fraction of the next token draw is already-seen
    * types — prices the unseen MASS) and Chao1 completeness
    * S_obs / Ŝ (what fraction of the type inventory is already
    * observed — counts the unseen TYPES). Both in exact ppm over one
    * aggregation of the (vocabulary-sized) count table; built for the
    * shared [[NgramCounts]] store like [[chao1FromTermCounts]].
    * Output: 1 row (n_tokens, s_obs, f1, f2, gt_coverage_ppm,
    * chao1_ppm, completeness_ppm). */
  def coverageReportFromTermCounts(counts: DataFrame): DataFrame =
    counts
      .agg(
        sum(col("r")).as("n_tokens"),
        count(lit(1)).as("s_obs"),
        sum(when(col("r") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("r") === 2, 1L).otherwise(0L)).as("f2"),
      )
      // (n_tokens − f1) × 10⁶ exceeds BIGINT past ~9.2e12 tokens — a
      // 100-TB corpus is past that. Numerator in DECIMAL; the quotient
      // is ≤ 10⁶ so the BIGINT div result cannot wrap.
      .withColumn(
        "gt_coverage_ppm",
        expr("CAST(CAST(n_tokens - f1 AS DECIMAL(38,0)) * 1000000 div n_tokens AS BIGINT)"),
      )
      .withColumn("chao1_ppm", expr(chao1PpmSql))
      .withColumn(
        "completeness_ppm",
        expr("CAST(CAST(s_obs AS DECIMAL(38,0)) * 1000000 * 1000000 div chao1_ppm AS BIGINT)"),
      )
}
