package graft.queries

import graft.Tables._
import graft.ops.Text
import org.apache.spark.sql.functions._

/** Text-analysis operator queries over the `documents` table
  * (SURVEY.md §2.10 extension inventory): token statistics, quality
  * ratios, language ID, shingling. Implementations in [[graft.ops.Text]].
  */
object TextQueries {

  /** Shared oracle CTE: tokenized documents. */
  private val toksCte =
    "WITH toks AS (SELECT doc_id, lang, regexp_extract_all(text, '\\w+') AS toks FROM documents)"

  private val tokenStats = Q(
    "txt_token_stats",
    """SELECT doc_id, len(regexp_extract_all(text, '\w+')) AS n_tokens,
      |  length(text) AS n_chars
      |FROM documents""".stripMargin,
  ) { (s, d) =>
    documents(s, d)
      .select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars"),
      )
  }

  /** BPE-ish token counting (GPT-2-style pre-tokenizer, RE2-compatible
    * subset): the LLM-token proxy next to the plain `\w+` count. Both
    * engines run the identical pattern; whitespace runs are delimiters,
    * not tokens. */
  private val bpeishTokens = Q(
    "txt_bpeish_tokens",
    """SELECT doc_id,
      |  len(list_filter(
      |    regexp_extract_all(text,
      |      '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'),
      |    t -> regexp_matches(t, '\S'))) AS n_bpeish,
      |  len(regexp_extract_all(text, '\w+')) AS n_words
      |FROM documents""".stripMargin,
  ) { (s, d) =>
    documents(s, d)
      .select(
        col("doc_id"),
        Text.bpeishTokenCount(col("text")).as("n_bpeish"),
        Text.tokenCount(col("text")).as("n_words"),
      )
  }

  private val quality = Q(
    "txt_quality",
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '\w+')) AS n_tokens,
      |  len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS n_stop,
      |  CAST(len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS DOUBLE)
      |    / len(regexp_extract_all(text, '\w+')) AS stop_ratio,
      |  CAST(length(regexp_replace(text, '\W', '', 'g')) AS DOUBLE)
      |    / len(regexp_extract_all(text, '\w+')) AS avg_token_len
      |FROM documents""".stripMargin,
  ) { (s, d) =>
    val enWords = Text.langMarkers.head._2
    val nTok    = Text.tokenCount(col("text"))
    val nStop   = Text.stopwordHits(col("text"), enWords)
    documents(s, d)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        nStop.as("n_stop"),
        (nStop.cast("double") / nTok).as("stop_ratio"),
        (Text.wordChars(col("text")).cast("double") / nTok).as("avg_token_len"),
      )
  }

  private val langIdAgreement = Q(
    "txt_langid_agreement",
    """WITH h AS (SELECT lang,
      |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS h_en,
      |    len(regexp_extract_all(text, '\b(el|la|de|los|que|y)\b')) AS h_es,
      |    len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS h_de,
      |    len(regexp_extract_all(text, '\b(le|la|les|et|est)\b')) AS h_fr
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
      |       WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_fr THEN 'es'
      |       WHEN h_de > 0 AND h_de >= h_fr THEN 'de'
      |       WHEN h_fr > 0 THEN 'fr'
      |       ELSE 'und' END AS lang_pred,
      |  COUNT(*) AS n
      |FROM h GROUP BY 1, 2""".stripMargin,
  ) { (s, d) =>
    documents(s, d)
      .groupBy(col("lang"), Text.langId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Cohen's kappa between the annotation (`lang`) and the stopword
    * heuristic ([[graft.ops.Text.langId]]) — the chance-corrected
    * upgrade of [[langIdAgreement]]'s raw confusion counts: raw
    * agreement flatters a rater that just predicts the majority class.
    * κ = (pₒ − pₑ)/(1 − pₑ) emitted as the EXACT rational
    * (n·agree − Σₖrowₖ·colₖ, n² − Σₖrowₖ·colₖ) — no float anywhere.
    * One corpus aggregate to the |langs|² confusion matrix; everything
    * after runs on that bounded table. */
  private val langIdKappaQ = Q(
    "txt_langid_kappa",
    """WITH h AS (SELECT lang,
      |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS h_en,
      |    len(regexp_extract_all(text, '\b(el|la|de|los|que|y)\b')) AS h_es,
      |    len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS h_de,
      |    len(regexp_extract_all(text, '\b(le|la|les|et|est)\b')) AS h_fr
      |  FROM documents),
      |cm AS (SELECT lang,
      |  CASE WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
      |       WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_fr THEN 'es'
      |       WHEN h_de > 0 AND h_de >= h_fr THEN 'de'
      |       WHEN h_fr > 0 THEN 'fr'
      |       ELSE 'und' END AS pred,
      |  COUNT(*) AS n
      |FROM h GROUP BY 1, 2),
      |r AS (SELECT lang AS k, sum(n) AS row_n FROM cm GROUP BY 1),
      |c AS (SELECT pred AS k, sum(n) AS col_n FROM cm GROUP BY 1),
      |x AS (SELECT CAST(coalesce(sum(row_n * col_n), 0) AS BIGINT) AS cross_mass
      |      FROM r JOIN c USING (k)),
      |a AS (SELECT CAST(sum(n) AS BIGINT) AS total,
      |        CAST(coalesce(sum(CASE WHEN lang = pred THEN n END), 0) AS BIGINT) AS agree
      |      FROM cm)
      |SELECT total, agree, cross_mass,
      |  CAST(total * agree - cross_mass AS BIGINT) AS kappa_num,
      |  CAST(total * total - cross_mass AS BIGINT) AS kappa_den
      |FROM a, x""".stripMargin,
  ) { (s, d) =>
    val cm = documents(s, d)
      .groupBy(col("lang"), Text.langId(col("text")).as("pred"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // bounded |langs|² table, read three ways below
    val rows  = cm.groupBy(col("lang").as("k")).agg(sum(col("n")).as("row_n"))
    val cols  = cm.groupBy(col("pred").as("k")).agg(sum(col("n")).as("col_n"))
    val cross = rows
      .join(cols, Seq("k"))
      .agg(coalesce(sum(col("row_n") * col("col_n")), lit(0L)).as("cross_mass"))
    cm.agg(
      sum(col("n")).as("total"),
      coalesce(sum(when(col("lang") === col("pred"), col("n"))), lit(0L)).as("agree"),
    ).crossJoin(broadcast(cross))
      // products in DECIMAL(38,0) (the oracle computes them in HUGEINT):
      // total² wraps LongType past ~3e9 documents
      .select(
        col("total"),
        col("agree"),
        col("cross_mass"),
        (col("total").cast("decimal(38,0)") * col("agree") - col("cross_mass"))
          .cast("long").as("kappa_num"),
        (col("total").cast("decimal(38,0)") * col("total") - col("cross_mass"))
          .cast("long").as("kappa_den"),
      )
  }

  /** Gini coefficient of the token-frequency distribution — the
    * inequality summary next to [[vocabStatsQ]]'s Zipf census (a
    * training corpus with near-1 Gini is a few tokens repeated; near 0
    * is uniform vocabulary). Exact rational via the sorted-rank
    * identity G = (2·Σᵢ i·cᵢ − (n+1)·Σc) / (n·Σc): the rank window
    * runs over the VOCAB-bounded frequency table (the
    * [[txt_curriculum_order]] discipline — never a corpus-wide
    * window), ties ordered (c, token) identically in both engines. */
  private val tokenGiniQ = Q(
    "txt_token_gini",
    """WITH toks AS (
      |  SELECT unnest(regexp_extract_all(text, '\w+')) AS tok FROM documents),
      |v AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
      |rk AS (SELECT c, row_number() OVER (ORDER BY c, tok) AS i FROM v)
      |SELECT count(*) AS n_types, CAST(sum(c) AS BIGINT) AS total_tokens,
      |  CAST(2 * sum(CAST(i AS HUGEINT) * c)
      |       - (count(*) + 1) * CAST(sum(c) AS HUGEINT) AS BIGINT) AS gini_num,
      |  CAST(count(*) * CAST(sum(c) AS HUGEINT) AS BIGINT) AS gini_den
      |FROM rk""".stripMargin,
  ) { (s, d) =>
    val v = documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("c"))
    // vocab-bounded single-partition rank window (NOT corpus-sized)
    val w  = org.apache.spark.sql.expressions.Window.orderBy(col("c"), col("tok"))
    // i·c and its sum in DECIMAL(38,0) (HUGEINT on the oracle side):
    // the element product alone is bounded only by n_types·total_tokens
    v.withColumn("i", row_number().over(w).cast("decimal(38,0)"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("c")).as("total_tokens"),
        (lit(2L) * sum(col("i") * col("c")) -
          (count(lit(1)) + lit(1L)) * sum(col("c").cast("decimal(38,0)")))
          .cast("long").as("gini_num"),
        (count(lit(1)) * sum(col("c").cast("decimal(38,0)"))).cast("long").as("gini_den"),
      )
  }

  private val shingleStats = Q(
    "txt_shingle_stats",
    s"""$toksCte
       |SELECT doc_id,
       |  len(sh_all) AS n_shingles, len(list_distinct(sh_all)) AS n_distinct
       |FROM (SELECT doc_id,
       |        list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
       |                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh_all
       |      FROM toks)""".stripMargin,
  ) { (s, d) =>
    // Tokens materialized first — see Dedup.shingleSets for why.
    documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), Text.shingles(col("__toks"), 3).as("__sh"))
      .select(
        col("doc_id"),
        size(col("__sh")).as("n_shingles"),
        size(array_distinct(col("__sh"))).as("n_distinct"),
      )
  }

  /** Winnowing fingerprints (rolling min-hash window over the ordered
    * shingle sequence) — [[graft.ops.Text.winnowFingerprints]]. */
  private val winnow = Q(
    "txt_winnow_fingerprints",
    s"""$toksCte,
       |sh AS (
       |  SELECT doc_id,
       |    unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS pos,
       |    unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM toks),
       |wm AS (
       |  SELECT doc_id,
       |    min(md5(sh)) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
       |  FROM sh)
       |SELECT doc_id, COUNT(DISTINCT wmin) AS n_fingerprints, min(wmin) AS min_fp
       |FROM wm GROUP BY doc_id""".stripMargin,
  ) { (s, d) =>
    Text.winnowFingerprints(documents(s, d), "doc_id", "text", n = 3, w = 4)
  }

  /** Greedy sequence packing into 512-token context windows, one
    * stream per source (concatenate-then-chunk — the LLM training
    * packing op): each document's window index and token offset,
    * differential down to the window arithmetic. */
  private val packBudget = Q(
    "txt_pack_budget",
    """SELECT doc_id, source, n_tok, start_tok,
      |  CAST(floor(start_tok / 512.0) AS BIGINT) AS pack_id
      |FROM (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) AS n_tok,
      |    CAST(COALESCE(SUM(CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT))
      |      OVER (PARTITION BY source ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
      |  FROM documents)""".stripMargin,
  ) { (s, d) =>
    Text.packByBudget(documents(s, d), "doc_id", "text", budget = 512, partitionCol = "source")
  }

  /** Gopher-family repetition metrics per document: type-token ratio
    * and top-bigram occurrence fraction, both pure per-row list
    * expressions (the oracle replays the identical lambdas). */
  private val repetition = Q(
    "txt_repetition",
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |b AS (SELECT doc_id, toks,
      |    list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
      |      i -> toks[i] || ' ' || toks[i+1]) AS bg
      |  FROM t)
      |SELECT doc_id,
      |  CASE WHEN len(toks) = 0 THEN NULL
      |       ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS ttr,
      |  CASE WHEN len(bg) = 0 THEN NULL
      |       ELSE list_aggregate(list_transform(list_distinct(bg),
      |              x -> len(list_filter(bg, y -> y = x))), 'max') / CAST(len(bg) AS DOUBLE)
      |       END AS top_bigram_frac
      |FROM b""".stripMargin,
  ) { (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      Text.typeTokenRatio(col("text")).as("ttr"),
      Text.topBigramFraction(col("text")).as("top_bigram_frac"),
    )
  }

  /** Top-5 characteristic terms per document by linear-idf tf-idf
    * (score = tf · N/df — exactly-rounded IEEE ops only, see
    * [[graft.ops.Text.tfIdfTopK]] for why the log is omitted). The
    * oracle replays the identical arithmetic; ties break on term. */
  /** Inverted index ([[graft.ops.Text.invertedIndex]]): term → exact
    * (df, cf) + the 20 lowest doc ids as a capped posting head. The
    * oracle replays the cap with the same rank-then-collect, so the
    * truncation semantics (not just the happy path) are differentially
    * checked. */
  private val invertedIndexQ = Q(
    "txt_inverted_index",
    """WITH terms AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS term FROM documents),
      |tf AS (SELECT term, doc_id, count(*) AS tf FROM terms GROUP BY 1, 2),
      |stats AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
      |          FROM tf GROUP BY 1),
      |capped AS (SELECT term, doc_id FROM (
      |    SELECT term, doc_id,
      |      row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM tf)
      |  WHERE rn <= 20),
      |post AS (SELECT term, string_agg(doc_id, ',' ORDER BY doc_id) AS postings
      |         FROM capped GROUP BY 1)
      |SELECT s.term, s.df, s.cf, p.postings
      |FROM stats s JOIN post p ON s.term = p.term""".stripMargin,
  ) { (s, d) =>
    // Postings serialize to ascending CSV for the gate (the harness
    // hashes scalar columns only; the op's real array survives in the
    // library API).
    Text.invertedIndex(documents(s, d), "doc_id", "text", cap = 20)
      .select(
        col("term"),
        col("df"),
        col("cf"),
        expr("array_join(transform(postings, x -> CAST(x AS STRING)), ',')").as("postings"),
      )
  }

  private val tfidfTopk = Q(
    "txt_tfidf_topk",
    """WITH terms AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df, tf * (n_docs / df) AS score
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
      |SELECT doc_id, term, tf, df, score, rnk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |                               ORDER BY score DESC, term ASC) AS rnk
      |  FROM scored)
      |WHERE rnk <= 5""".stripMargin,
  ) { (s, d) =>
    Text.tfIdfTopK(documents(s, d), "doc_id", "text", k = 5)
  }

  /** Rare-token quality filter: per-doc count/fraction of tokens whose
    * corpus frequency is under 1% of all occurrences (integer-exact
    * threshold test; [[graft.ops.Text.rareTokenStats]]). */
  private val rareTokens = Q(
    "txt_rare_tokens",
    """WITH terms AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS term FROM documents),
      |cnt AS (SELECT term, COUNT(*) AS c FROM terms GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt)
      |SELECT doc_id, COUNT(*) AS n_tok,
      |  CAST(SUM(CASE WHEN c * 100 < total THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      |  CAST(SUM(CASE WHEN c * 100 < total THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
      |    AS rare_frac
      |FROM terms JOIN cnt USING (term) CROSS JOIN tot
      |GROUP BY doc_id""".stripMargin,
  ) { (s, d) =>
    Text.rareTokenStats(documents(s, d), "doc_id", "text", pctThreshold = 1)
  }

  /** PII masking over the customer dimension: digits masked except the
    * last two, salted sha256 pseudonym for joining without the raw
    * identifier ([[graft.ops.Text.maskDigitsKeepLast]]/[[Text.pseudonym]]).
    * The customer names carry real digit identifiers, so the masking
    * path is genuinely exercised (not an identity pass). */
  private val piiMask = Q(
    "txt_pii_mask",
    """SELECT c_custkey,
      |  CASE WHEN length(c_name) <= 2 THEN c_name
      |       ELSE regexp_replace(substring(c_name, 1, length(c_name) - 2),
      |                           '[0-9]', 'X', 'g')
      |            || substring(c_name, length(c_name) - 1, 2) END AS masked_name,
      |  length(regexp_replace(
      |    substring(c_name, 1, length(c_name) - 2), '[^0-9]', '', 'g')) AS n_masked,
      |  sha256('graft-salt' || c_name) AS pseudonym
      |FROM customer""".stripMargin,
  ) { (s, d) =>
    graft.Tables
      .customer(s, d)
      .select(
        col("c_custkey"),
        Text.maskDigitsKeepLast(col("c_name"), keep = 2).as("masked_name"),
        length(regexp_replace(substring(col("c_name"), lit(1), length(col("c_name")) - 2),
          "[^0-9]", "")).cast("long").as("n_masked"),
        Text.pseudonym(col("c_name"), "graft-salt").as("pseudonym"),
      )
  }

  /** Shared oracle CTE: each document's DISTINCT 3-gram shingles, one
    * row per (doc, shingle) — document frequency is a plain count. */
  private val distinctShingleCte =
    """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |shing AS (SELECT doc_id,
      |    unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
      |  FROM toks)""".stripMargin

  /** Corpus-level frequent phrases: top-20 3-gram shingles by document
    * frequency, deterministic tie-break on the shingle
    * ([[graft.ops.Text.frequentShingles]] — the boilerplate-phrase
    * detector; plans as partial agg + TakeOrderedAndProject). */
  private val frequentShingles = Q(
    "txt_frequent_shingles",
    s"""$distinctShingleCte
       |SELECT sh, df FROM (
       |  SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM shing GROUP BY sh)
       |ORDER BY df DESC, sh LIMIT 20""".stripMargin,
  ) { (s, d) =>
    Text.frequentShingles(documents(s, d), "doc_id", "text", n = 3, k = 20)
  }

  /** Per-document boilerplate fraction: share of a document's distinct
    * 3-gram shingles that recur in at least 2 documents
    * ([[graft.ops.Text.boilerplateStats]] — cross-document templated-
    * content signal, single-explode window-df pipeline). */
  private val boilerplate = Q(
    "txt_boilerplate",
    s"""$distinctShingleCte,
       |dfreq AS (SELECT sh, COUNT(*) AS df FROM shing GROUP BY sh)
       |SELECT doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_frequent,
       |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
       |    AS boilerplate_frac
       |FROM shing JOIN dfreq USING (sh)
       |GROUP BY doc_id""".stripMargin,
  ) { (s, d) =>
    Text.boilerplateStats(documents(s, d), "doc_id", "text", n = 3, minDf = 2L)
  }

  /** Composed quality report ([[graft.ops.Text.qualityReport]]) — all
    * five filter reasons fire on the gate corpus (19 too_short / 43
    * too_long / 47 lang / 99 repetitive_ttr / 4 repetitive_bigram of
    * 500 at sf0.01), so the whole precedence chain is differentially
    * exercised, not just the keep path. */
  private val qualityReportQ = Q(
    "txt_quality_report",
    """WITH t AS (SELECT doc_id, text, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |b AS (SELECT doc_id, text, toks,
      |    list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
      |      i -> toks[i] || ' ' || toks[i+1]) AS bg
      |  FROM t),
      |m AS (SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tok,
      |    CASE WHEN len(toks) = 0 THEN NULL
      |         ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS ttr,
      |    CASE WHEN len(bg) = 0 THEN NULL
      |         ELSE list_aggregate(list_transform(list_distinct(bg),
      |                x -> len(list_filter(bg, y -> y = x))), 'max') / CAST(len(bg) AS DOUBLE)
      |         END AS top_bigram_frac,
      |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS h_en,
      |    len(regexp_extract_all(text, '\b(el|la|de|los|que|y)\b')) AS h_es,
      |    len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS h_de,
      |    len(regexp_extract_all(text, '\b(le|la|les|et|est)\b')) AS h_fr
      |  FROM b),
      |p AS (SELECT doc_id, n_tok, ttr, top_bigram_frac,
      |    CASE WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
      |         WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_fr THEN 'es'
      |         WHEN h_de > 0 AND h_de >= h_fr THEN 'de'
      |         WHEN h_fr > 0 THEN 'fr'
      |         ELSE 'und' END AS lang_pred
      |  FROM m)
      |SELECT doc_id, n_tok, lang_pred, ttr, top_bigram_frac,
      |  CASE WHEN n_tok < 15 THEN 'too_short'
      |       WHEN n_tok > 90 THEN 'too_long'
      |       WHEN lang_pred NOT IN ('en', 'es', 'de', 'fr') THEN 'lang'
      |       WHEN ttr < 0.35 THEN 'repetitive_ttr'
      |       WHEN top_bigram_frac > 0.12 THEN 'repetitive_bigram'
      |       END AS reason,
      |  (CASE WHEN n_tok < 15 THEN 'too_short'
      |       WHEN n_tok > 90 THEN 'too_long'
      |       WHEN lang_pred NOT IN ('en', 'es', 'de', 'fr') THEN 'lang'
      |       WHEN ttr < 0.35 THEN 'repetitive_ttr'
      |       WHEN top_bigram_frac > 0.12 THEN 'repetitive_bigram'
      |       END) IS NULL AS keep
      |FROM p""".stripMargin,
  ) { (s, d) =>
    Text.qualityReport(
      documents(s, d),
      "doc_id",
      "text",
      minTokens = 15,
      maxTokens = 90,
      languages = Seq("en", "es", "de", "fr"),
      minTtr = 0.35,
      maxTopBigram = 0.12,
    )
  }

  /** Domain-level quality gate ([[graft.ops.Text.sourceFilter]]):
    * documents survive iff their SOURCE's mean token count clears 50 —
    * the integer-sum form (SUM ≥ τ·COUNT) so the keep set is
    * bit-deterministic. At sf0.01 this drops two of the twenty
    * sources; the oracle recomputes the cut at whatever scale it
    * runs. */
  private val sourceFilterQ = Q(
    "txt_source_filter",
    """WITH s AS (
      |  SELECT source, sum(len(regexp_extract_all(text, '\w+'))) AS tot, count(*) AS n
      |  FROM documents GROUP BY 1),
      |keep AS (SELECT source FROM s WHERE CAST(tot AS DOUBLE) >= 50.0 * n)
      |SELECT doc_id, source FROM documents
      |WHERE source IN (SELECT source FROM keep)""".stripMargin,
  ) { (s, d) =>
    Text
      .sourceFilter(documents(s, d), "source", Text.tokenCount(col("text")), minMean = 50.0)
      .select("doc_id", "source")
  }

  /** RAG chunking ([[graft.ops.Text.chunkTokens]]): 64-token windows
    * advancing by 48 (16-token overlap), stable (doc, start/stride)
    * chunk ids, shuffle-free; start generation stops at the first
    * window covering the document end (no pure-duplicate tail chunk).
    * Oracle replays the identical slicing. */
  private val chunkOverlap = Q(
    "txt_chunk_overlap",
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |s AS (SELECT doc_id, toks,
      |        unnest(generate_series(0, greatest(0, ((len(toks) - 64 + 47) // 48) * 48), 48)) AS start
      |      FROM t WHERE len(toks) > 0)
      |SELECT doc_id, start // 48 AS chunk_id,
      |  list_aggregate(toks[(start+1):(start+64)], 'string_agg', ' ') AS chunk_text,
      |  CAST(len(toks[(start+1):(start+64)]) AS BIGINT) AS n_tok
      |FROM s""".stripMargin,
  ) { (s, d) =>
    graft.ops.Text.chunkTokens(documents(s, d), "doc_id", "text", chunkSize = 64, overlap = 16)
  }

  /** Corpus-trained bigram LM score ([[graft.ops.Text.bigramLmScoreFromTables]]):
    * integer-ppm perplexity proxy — mean ⌊c(w₁w₂)·10⁶ / c(w₁·)⌋ over
    * each document's bigram occurrences. Training counts and scoring
    * both replayed by the oracle. */
  private val bigramLm = Q(
    "txt_bigram_lm_score",
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |b AS (SELECT doc_id,
      |        unnest(list_transform(generate_series(1, len(toks) - 1),
      |               i -> toks[i] || ' ' || toks[i+1])) AS bg
      |      FROM t WHERE len(toks) >= 2),
      |bw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM b),
      |c2 AS (SELECT bg, count(*) AS c2 FROM bw GROUP BY 1),
      |c1 AS (SELECT w1, count(*) AS c1 FROM bw GROUP BY 1)
      |SELECT doc_id,
      |  CAST(sum((c2.c2 * 1000000) // c1.c1) // count(*) AS BIGINT) AS lm_score_ppm,
      |  count(*) AS n_bigrams
      |FROM bw JOIN c2 USING (bg) JOIN c1 USING (w1)
      |GROUP BY doc_id""".stripMargin,
  ) { (s, d) =>
    graft.ops.Text.bigramLmScoreFromTables(documents(s, d), "doc_id", "text", lmTables(s, d))
  }

  /** The k-round BPE oracle: each round is a pair-count CTE, a 1-row
    * argmax CTE, and an anchored-replace apply CTE (see
    * [[graft.ops.Bpe]] for why double-space anchoring makes the
    * replace semantics engine-identical); the Scala loop unrolls the
    * rounds because merge r's statistics depend on merge r-1's
    * application — BPE is inherently sequential in the merge index. */
  /** `prefix`/`where` parameterize the chain for multi-vocabulary
    * oracles (the streaming drift gate composes one chain per window
    * plus a frozen one in a single query — prefixes keep the CTE
    * names disjoint, `where` scopes the word table, and only the
    * first chain carries the WITH keyword). */
  private[queries] def bpeChain(
      k: Int,
      prefix: String = "",
      where: String = "",
      withKeyword: Boolean = true,
  ): String = {
    val sb = new StringBuilder
    sb ++= (if (withKeyword) "WITH " else "")
    sb ++= s"""${prefix}w0 AS (
      |  SELECT w, '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') || '</w>  ' AS sym, freq FROM (
      |    SELECT w, count(*) AS freq FROM (
      |      SELECT unnest(regexp_extract_all(text, '\\w+')) AS w FROM documents $where) GROUP BY w))""".stripMargin
    for (r <- 1 to k)
      sb ++= s""",
         |${prefix}p$r AS (
         |  SELECT syms[i] AS lhs, syms[i+1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
         |        FROM (SELECT string_split(trim(sym), '  ') AS syms, freq FROM ${prefix}w${r - 1}))
         |  GROUP BY 1, 2),
         |${prefix}b$r AS (SELECT lhs, rhs, cnt FROM ${prefix}p$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |${prefix}w$r AS (SELECT w.w, CASE WHEN b.lhs IS NULL THEN w.sym
         |          ELSE replace(w.sym, ' ' || b.lhs || '  ' || b.rhs || ' ',
         |                       ' ' || b.lhs || b.rhs || ' ') END AS sym, w.freq
         |        FROM ${prefix}w${r - 1} w LEFT JOIN ${prefix}b$r b ON TRUE)""".stripMargin
    sb.toString
  }

  private def bpeOracleSql(k: Int): String =
    bpeChain(k) + "\n" + (1 to k)
      .map(r =>
        s"SELECT $r AS merge_rank, lhs, rhs, lhs || rhs AS merged, cnt AS pair_count FROM b$r"
      )
      .mkString("\nUNION ALL\n")

  /** Tokenization tail: map every document token (in position order) to
    * its fully-merged symbol string from the final round's word table —
    * equivalent to folding the merges in rank order per word, which is
    * what the Spark side does. Token-less documents keep an empty
    * string via the LEFT JOIN. */
  private def bpeTokenizeOracleSql(k: Int): String =
    bpeChain(k) + s""",
      |docs_t AS (SELECT doc_id, regexp_extract_all(text, '\\w+') AS toks FROM documents),
      |tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks FROM docs_t),
      |mapped AS (
      |  SELECT t.doc_id, t.i, replace(trim(f.sym), '  ', ' ') AS piece
      |  FROM (SELECT doc_id, i, toks[i] AS w FROM tok) t JOIN w$k f ON f.w = t.w)
      |SELECT d.doc_id, coalesce(m.bpe_tokens, '') AS bpe_tokens
      |FROM documents d LEFT JOIN (
      |  SELECT doc_id, string_agg(piece, ' ' ORDER BY i) AS bpe_tokens
      |  FROM mapped GROUP BY doc_id) m USING (doc_id)""".stripMargin

  /** Corpus-learned 8-merge BPE table, learned ONCE per (session,
    * corpus) and shared by every consumer gate — a tokenizer
    * vocabulary is a train-once artifact (the `dedup_shingles` /
    * `trade_rows` pattern); before this cache the tokenize, fertility,
    * and merges gates each re-paid the 8 shuffle training rounds.
    * Driver-sized by contract (8 rows). (txt_bpe_merges is NOT a
    * consumer: it gates [[graft.ops.Bpe.learnMerges]] itself, live.) */
  private[queries] val learnedMerges8 =
    Shared("bpe_merge_table", Set("txt_bpe_tokenize", "txt_bpe_fertility")) { (s, d) =>
      graft.ops.Bpe
        .learnMerges(documents(s, d), "text", 8)
        .collect()
        .sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2)))
        .toSeq
    }

  /** The shared n-gram count-table artifact
    * ([[graft.ops.NgramCounts]]) — the write-once n-gram store the LM
    * family reads instead of each gate re-censusing the corpus. Sliced
    * with the txt_trigram_backoff held-out predicate (`doc_id % 10 =
    * 0`), which is therefore part of the artifact's identity; every
    * other consumer sums over the flag. Persisted + materialized once
    * per (session, corpus). */
  private[queries] val lmTables = Shared("ngram_count_tables", Set(
    "txt_bigram_lm_score", "txt_lm_prune", "txt_trigram_backoff",
    "txt_freq_of_freqs", "txt_chao1", "txt_coverage_report", "txt_kn_counts",
  )) { (s, d) =>
    graft.ops.NgramCounts
      .build(documents(s, d), "text", expr("doc_id % 10 = 0"))
      .persistAll()
  }

  /** This suite's shared artifacts, in prewarm order. */
  private[graft] def artifacts: Seq[Shared[_]] = Seq(learnedMerges8, lmTables)

  def prewarmShared(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      selected: Option[Set[String]] = None,
  ): Seq[(String, Double)] = Shared.prewarm(artifacts, s, d, selected)

  /** BPE vocabulary induction ([[graft.ops.Bpe.learnMerges]]): the
    * first 8 merges learned from the corpus's word-frequency table,
    * each round's argmax pair and weighted count oracle-replayed. */
  private val bpeMerges = Q(
    "txt_bpe_merges",
    bpeOracleSql(8),
  ) { (s, d) =>
    graft.ops.Bpe.learnMerges(documents(s, d), "text", 8)
  }

  /** BPE tokenization of the whole corpus with the corpus-learned
    * merges ([[graft.ops.Bpe.applyMerges]]): train (8 merges), collect
    * the merge list (tokenizer vocabularies are driver-sized
    * constants), fold per token. The oracle instead maps each token
    * to the final training round's word table — the two are equivalent
    * because the per-word fold applies merges in the same rank order
    * the rounds did. */
  private val bpeTokenize = Q(
    "txt_bpe_tokenize",
    bpeTokenizeOracleSql(8),
  ) { (s, d) =>
    val docs = documents(s, d)
    graft.ops.Bpe.applyMerges(docs, "text", learnedMerges8(s, d)).select("doc_id", "bpe_tokens")
  }

  /** Tokenizer fertility report per source — the vocabulary-eval
    * artifact that drives vocab sizing: BPE tokens per word
    * (fertility) and characters per BPE token, from the corpus-learned
    * 8-merge vocabulary, in integer ppm. The oracle replays the BPE
    * chain and derives the same census from the final word table. */
  private val bpeFertility = Q(
    "txt_bpe_fertility",
    bpeChain(8) + s""",
      |docs_t AS (SELECT doc_id, regexp_extract_all(text, '\\w+') AS toks FROM documents),
      |tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks FROM docs_t),
      |mapped AS (
      |  SELECT t.doc_id, replace(trim(f.sym), '  ', ' ') AS piece
      |  FROM (SELECT doc_id, i, toks[i] AS w FROM tok) t JOIN w8 f ON f.w = t.w),
      |perdoc AS (
      |  SELECT d.doc_id, d.source,
      |    CAST(len(regexp_extract_all(d.text, '\\w+')) AS BIGINT) AS n_words,
      |    CAST(coalesce(m.n_sym, 0) AS BIGINT) AS n_sym,
      |    CAST(coalesce(m.n_chars, 0) AS BIGINT) AS n_chars
      |  FROM documents d LEFT JOIN (
      |    SELECT doc_id,
      |      sum(len(string_split(piece, ' '))) AS n_sym,
      |      sum(len(replace(piece, ' ', ''))) AS n_chars
      |    FROM mapped GROUP BY doc_id) m USING (doc_id))
      |SELECT source, CAST(sum(n_words) AS BIGINT) AS n_words,
      |  CAST(sum(n_sym) AS BIGINT) AS n_tokens, CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  CAST((sum(n_sym) * 1000000) // sum(n_words) AS BIGINT) AS fertility_ppm,
      |  CAST((sum(n_chars) * 1000000) // sum(n_sym) AS BIGINT) AS chars_per_token_ppm
      |FROM perdoc GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    val docs = documents(s, d)
    graft.ops.Bpe
      .applyMerges(docs, "text", learnedMerges8(s, d))
      .select(
        col("source"),
        Text.tokenCount(col("text")).cast("long").as("n_words"),
        when(col("bpe_tokens") === "", lit(0L))
          .otherwise(size(split(col("bpe_tokens"), " ")).cast("long")).as("n_sym"),
        length(regexp_replace(col("bpe_tokens"), " ", "")).cast("long").as("n_chars"),
      )
      .groupBy("source")
      .agg(
        sum(col("n_words")).as("n_words"),
        sum(col("n_sym")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        expr("(sum(n_sym) * 1000000L) div sum(n_words)").as("fertility_ppm"),
        expr("(sum(n_chars) * 1000000L) div sum(n_sym)").as("chars_per_token_ppm"),
      )
  }

  /** Length-bucketed batch padding-waste report — the dataloader
    * planning twin of [[packManifest]] (padding strategy instead of
    * packing strategy): docs bucketed to the next power-of-two token
    * length, per bucket the real vs padded token mass, the flooring-ppm
    * waste, and the 32-doc batch count. All integer. */
  private val batchPadding = Q(
    "txt_batch_padding",
    """WITH t AS (
      |  SELECT CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) AS len FROM documents),
      |nz AS (SELECT len,
      |  CASE WHEN len <= 8 THEN 8 WHEN len <= 16 THEN 16 WHEN len <= 32 THEN 32
      |       WHEN len <= 64 THEN 64 WHEN len <= 128 THEN 128 WHEN len <= 256 THEN 256
      |       WHEN len <= 512 THEN 512 ELSE 1024 END AS bucket
      |  FROM t WHERE len > 0)
      |SELECT bucket, count(*) AS n_docs,
      |  CAST(sum(len) AS BIGINT) AS real_tokens,
      |  CAST(bucket * count(*) AS BIGINT) AS padded_tokens,
      |  CAST(((bucket * count(*) - sum(len)) * 1000000) // (bucket * count(*)) AS BIGINT)
      |    AS waste_ppm,
      |  CAST((count(*) + 31) // 32 AS BIGINT) AS n_batches
      |FROM nz GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    val len = Text.tokenCount(col("text")).cast("long")
    val bucket = when(col("len") <= 8, 8L).when(col("len") <= 16, 16L)
      .when(col("len") <= 32, 32L).when(col("len") <= 64, 64L)
      .when(col("len") <= 128, 128L).when(col("len") <= 256, 256L)
      .when(col("len") <= 512, 512L).otherwise(1024L)
    documents(s, d)
      .select(len.as("len"))
      .filter(col("len") > 0)
      .select(col("len"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("len")).cast("long").as("real_tokens"),
        (col("bucket") * count(lit(1))).cast("long").as("padded_tokens"),
        expr("((bucket * count(1) - sum(len)) * 1000000L) div (bucket * count(1))")
          .as("waste_ppm"),
        expr("(count(1) + 31) div 32").as("n_batches"),
      )
  }

  /** Perplexity-style pruning: drop the worst 10% of documents by the
    * bigram-LM score ([[graft.ops.Text.pruneByScoreQuantile]]) — the
    * EXACT quantile computed as a bounded-integer-domain histogram
    * cumulative (the ppm score domain has ≤ 10⁶+1 values, so the only
    * single-partition window runs over the tiny histogram, never the
    * corpus). The oracle replays histogram, cumulative, threshold, and
    * the tie-stable `score ≥ threshold` keep rule. */
  private val lmPrune = Q(
    "txt_lm_prune",
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |b AS (SELECT doc_id,
      |        unnest(list_transform(generate_series(1, len(toks) - 1),
      |               i -> toks[i] || ' ' || toks[i+1])) AS bg
      |      FROM t WHERE len(toks) >= 2),
      |bw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM b),
      |c2 AS (SELECT bg, count(*) AS c2 FROM bw GROUP BY 1),
      |c1 AS (SELECT w1, count(*) AS c1 FROM bw GROUP BY 1),
      |sc AS (SELECT doc_id,
      |         CAST(sum((c2.c2 * 1000000) // c1.c1) // count(*) AS BIGINT) AS lm_score_ppm
      |       FROM bw JOIN c2 USING (bg) JOIN c1 USING (w1) GROUP BY doc_id),
      |hist AS (SELECT lm_score_ppm AS s, count(*) AS c FROM sc GROUP BY 1),
      |cum AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM hist),
      |n AS (SELECT count(*) AS n FROM sc),
      |th AS (SELECT min(s) AS t FROM cum, n WHERE cum > (n.n * 100000) // 1000000)
      |SELECT sc.doc_id, sc.lm_score_ppm FROM sc, th WHERE sc.lm_score_ppm >= th.t""".stripMargin,
  ) { (s, d) =>
    graft.ops.Text.pruneByScoreQuantile(
      graft.ops.Text
        .bigramLmScoreFromTables(documents(s, d), "doc_id", "text", lmTables(s, d))
        .select("doc_id", "lm_score_ppm"),
      "lm_score_ppm",
      quantilePpm = 100000L,
    )
  }

  /** Concatenate-and-chop window composition manifest
    * ([[graft.ops.Text.packWindows]]) — the complement of
    * [[packBudget]]: that gate assigns each document ONE pack by its
    * start offset; this one emits the full (window, doc) membership
    * including documents SPLIT across a window cut, with per-piece
    * token counts — what a dataloader needs to build attention masks
    * at sequence boundaries. The implementation's global offsets come
    * from a two-phase distributed scan (per-shard cumsum + bounded
    * shard-base table), not a corpus-wide single-partition window;
    * the oracle's plain corpus-wide window must agree exactly. */
  private val packManifest = Q(
    "txt_pack_manifest",
    """WITH toks AS (
      |  SELECT doc_id, CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) AS len
      |  FROM documents),
      |nz AS (SELECT * FROM toks WHERE len > 0),
      |offs AS (SELECT doc_id, len,
      |  sum(len) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
      |  FROM nz),
      |spans AS (SELECT doc_id, CAST(e - len AS BIGINT) AS doc_start, CAST(e AS BIGINT) AS doc_end
      |          FROM offs),
      |packed AS (
      |  SELECT doc_id, doc_start, doc_end,
      |    unnest(generate_series(doc_start // 256, (doc_end - 1) // 256)) AS window_id
      |  FROM spans)
      |SELECT window_id, doc_id, doc_start, doc_end,
      |  least(doc_end, (window_id + 1) * 256) - greatest(doc_start, window_id * 256)
      |    AS tok_in_window
      |FROM packed""".stripMargin,
  ) { (s, d) =>
    Text.packWindows(documents(s, d), "doc_id", "text", budget = 256, shards = 64)
  }

  /** Integer-exact BM25 ranked retrieval ([[graft.ops.Text.bm25TopK]]):
    * three multi-term queries against the corpus, top-10 each. The tf
    * saturation is the exact Okapi rational (k1=1.2, b=0.75, cleared
    * of denominators); idf is the documented rank-preserving rational
    * surrogate — both replayed verbatim by the oracle. */
  private val bm25Topk = Q(
    "txt_bm25_topk",
    """WITH q(query_id, term) AS (
      |  VALUES (1, 'hash'), (1, 'join'), (2, 'customer'), (2, 'order'),
      |         (3, 'scan'), (3, 'filter'), (3, 'slow')),
      |terms AS (SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) AS dl
      |       FROM documents WHERE len(regexp_extract_all(text, '\w+')) > 0),
      |tot AS (SELECT count(*) AS n_docs, sum(dl) AS total FROM dl),
      |scored AS (
      |  SELECT q.query_id, tf.doc_id,
      |    CAST(sum(
      |      (CAST(((n_docs - df + 1) * 1000000) // (df + 1) AS HUGEINT) * 22 * tf * total)
      |        // (CAST(tf AS HUGEINT) * total * 10 + CAST(total AS HUGEINT) * 3
      |            + CAST(dl AS HUGEINT) * n_docs * 9)
      |    ) AS BIGINT) AS score_ppm
      |  FROM tf JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
      |  CROSS JOIN tot
      |  GROUP BY 1, 2)
      |SELECT query_id, doc_id, score_ppm, rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY score_ppm DESC, doc_id ASC) AS rnk
      |  FROM scored)
      |WHERE rnk <= 10""".stripMargin,
  ) { (s, d) =>
    Text.bm25TopK(
      documents(s, d),
      "doc_id",
      "text",
      queries = Seq(1 -> "hash", 1 -> "join", 2 -> "customer", 2 -> "order",
        3 -> "scan", 3 -> "filter", 3 -> "slow"),
      k = 10,
    )
  }

  /** Reciprocal-rank fusion of two retrieval rankings for the same
    * queries ([[graft.ops.Fusion.rrf]]) — hybrid search's merge step:
    * the BM25 top-10 fused with a raw term-frequency top-10. Both
    * rankers and the fusion arithmetic (10⁶ div (60 + rank), summed)
    * are integer-exact, so the oracle replays the whole composition. */
  private val rrfFusion = Q(
    "txt_rrf_fusion",
    """WITH q(query_id, term) AS (
      |  VALUES (1, 'hash'), (1, 'join'), (2, 'customer'), (2, 'order'),
      |         (3, 'scan'), (3, 'filter'), (3, 'slow')),
      |terms AS (SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) AS dl
      |       FROM documents WHERE len(regexp_extract_all(text, '\w+')) > 0),
      |tot AS (SELECT count(*) AS n_docs, sum(dl) AS total FROM dl),
      |bmscored AS (
      |  SELECT q.query_id, tf.doc_id,
      |    CAST(sum(
      |      (CAST(((n_docs - df + 1) * 1000000) // (df + 1) AS HUGEINT) * 22 * tf * total)
      |        // (CAST(tf AS HUGEINT) * total * 10 + CAST(total AS HUGEINT) * 3
      |            + CAST(dl AS HUGEINT) * n_docs * 9)
      |    ) AS BIGINT) AS score_ppm
      |  FROM tf JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
      |  CROSS JOIN tot
      |  GROUP BY 1, 2),
      |bm AS (SELECT query_id, doc_id, rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY score_ppm DESC, doc_id ASC) AS rnk
      |  FROM bmscored) WHERE rnk <= 10),
      |cnt AS (SELECT query_id, doc_id, rnk FROM (
      |  SELECT q.query_id, tf.doc_id,
      |    row_number() OVER (PARTITION BY q.query_id
      |                       ORDER BY sum(tf) DESC, tf.doc_id ASC) AS rnk
      |  FROM tf JOIN q USING (term) GROUP BY 1, 2) WHERE rnk <= 10),
      |u AS (SELECT * FROM bm UNION ALL SELECT * FROM cnt),
      |f AS (SELECT query_id, doc_id,
      |        CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf_ppm,
      |        count(*) AS n_lists
      |      FROM u GROUP BY 1, 2)
      |SELECT query_id, doc_id, rrf_ppm, n_lists,
      |  row_number() OVER (PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id ASC) AS rnk
      |FROM f""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val qs = Seq(1 -> "hash", 1 -> "join", 2 -> "customer", 2 -> "order",
      3 -> "scan", 3 -> "filter", 3 -> "slow")
    val bm = Text.bm25TopK(documents(s, d), "doc_id", "text", qs, k = 10)
    // raw term-frequency ranking over the same inverted lists
    import s.implicits._
    val qdf = qs.toDF("query_id", "term")
    val tf = documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("query_id").orderBy(col("__s").desc, col("doc_id").asc)
    val cnt = tf
      .join(broadcast(qdf), "term")
      .groupBy("query_id", "doc_id")
      .agg(sum(col("tf")).as("__s"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .drop("__s")
    graft.ops.Fusion
      .rrf(Seq(bm, cnt), groupCols = Seq("query_id"), itemCol = "doc_id", rankCol = "rnk")
      .select("query_id", "doc_id", "rrf_ppm", "n_lists", "rnk")
  }

  /** Collocation extraction by lift (= monotone PMI —
    * [[graft.ops.Text.collocations]]): top-20 adjacent token pairs with
    * at least 5 joint occurrences, scored `c_xy·N / (c_x·c_y)`. The
    * score is two correctly-rounded IEEE ops over exact integer
    * counts with a pinned association order, so the ranking — and the
    * double itself — is engine-identical. */
  private val collocationsQ = Q(
    "txt_collocations",
    """WITH toks AS (
      |  SELECT regexp_extract_all(lower(text), '\w+') AS t FROM documents),
      |uni AS (SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
      |tot AS (SELECT SUM(c) AS nt FROM uni),
      |big0 AS (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks),
      |big AS (
      |  SELECT t[i] AS w1, t[i+1] AS w2, COUNT(*) AS c_xy
      |  FROM big0 GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      |lifted AS (
      |  SELECT b.w1, b.w2, b.c_xy,
      |    (CAST(b.c_xy AS DOUBLE) * tot.nt) / (CAST(u1.c AS DOUBLE) * u2.c) AS lift
      |  FROM big b
      |  CROSS JOIN tot
      |  JOIN uni u1 ON u1.w = b.w1
      |  JOIN uni u2 ON u2.w = b.w2)
      |SELECT w1, w2, c_xy, lift, rnk FROM (
      |  SELECT *, row_number() OVER (ORDER BY lift DESC, w1, w2) AS rnk FROM lifted)
      |WHERE rnk <= 20""".stripMargin,
  ) { (s, d) =>
    Text.collocations(documents(s, d), "text", minCount = 5L, k = 20)
  }

  /** Skip-gram positive pairs ([[graft.ops.Text.skipGramPairs]]) at
    * window 2 — SGNS training pairs / the GloVe co-occurrence table,
    * exact counts per (center, context). */
  private val skipGramQ = Q(
    "txt_skipgram_pairs",
    """WITH t AS (SELECT regexp_extract_all(lower(text), '\w+') AS t FROM documents),
      |pos AS (SELECT t, unnest(generate_series(1, len(t))) AS i FROM t WHERE len(t) >= 2),
      |pr AS (SELECT t[i] AS w_center, t[i + o.o] AS w_ctx
      |       FROM pos CROSS JOIN (SELECT unnest([-2, -1, 1, 2]) AS o) o
      |       WHERE i + o.o >= 1 AND i + o.o <= len(t))
      |SELECT w_center, w_ctx, COUNT(*) AS n_pairs FROM pr GROUP BY 1, 2""".stripMargin,
  ) { (s, d) =>
    Text.skipGramPairs(documents(s, d), "text", window = 2)
  }

  /** SGNS negative-sampling table ([[graft.ops.Text.negSamplingTable]]):
    * unigram^¾ weights via composed correctly-rounded sqrts, DECIMAL
    * normalizer, flooring ppm shares — every value engine-exact. */
  private val negSamplingQ = Q(
    "txt_neg_sampling",
    """WITH cnt AS (
      |  SELECT w, COUNT(*) AS c
      |  FROM (SELECT unnest(regexp_extract_all(lower(text), '\w+')) AS w FROM documents)
      |  GROUP BY w),
      |wt AS (SELECT w, c, sqrt(c * sqrt(c)) AS wt FROM cnt),
      |tot AS (SELECT CAST(CAST(SUM(CAST(wt AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS t
      |        FROM wt)
      |SELECT w, c, wt,
      |  CAST(floor(wt * 1000000.0 / tot.t) AS BIGINT) AS share_ppm
      |FROM wt CROSS JOIN tot""".stripMargin,
  ) { (s, d) =>
    Text.negSamplingTable(documents(s, d), "text")
  }

  /** Per-source vocabulary census ([[graft.ops.Text.vocabStats]]):
    * token mass, type count, hapax legomena and hapax share (exact
    * ppm) — the Zipf/Heaps statistics a tokenizer-training or
    * data-mixing run inspects per stratum. */
  private val vocabStatsQ = Q(
    "txt_vocab_stats",
    """WITH toks AS (
      |  SELECT source AS stratum, unnest(regexp_extract_all(lower(text), '\w+')) AS w
      |  FROM documents),
      |cnt AS (SELECT stratum, w, COUNT(*) AS c FROM toks GROUP BY 1, 2)
      |SELECT stratum, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS vocab,
      |  CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS hapax,
      |  CAST((COALESCE(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) * 1000000) // COUNT(*) AS BIGINT)
      |    AS hapax_ppm
      |FROM cnt GROUP BY stratum""".stripMargin,
  ) { (s, d) =>
    Text.vocabStats(documents(s, d), "source", "text")
  }

  /** Sentence segmentation stats ([[graft.ops.Text.sentenceStats]]):
    * per-document sentence count and longest-sentence length from a
    * terminal-punctuation split — the document-shape feature next to
    * [[tokenStats]]' token counts. Segments are trimmed and
    * empty-filtered identically in both engines. */
  private val sentenceStatsQ = Q(
    "txt_sentence_stats",
    """WITH segs AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'), s -> trim(s)),
      |                s -> length(s) > 0) AS ss
      |  FROM documents)
      |SELECT doc_id, CAST(len(ss) AS INT) AS n_sentences,
      |  CAST(list_max(list_transform(ss, s -> length(s))) AS INT) AS max_sent_chars
      |FROM segs""".stripMargin,
  ) { (s, d) =>
    val (nSent, maxChars) = Text.sentenceStats(col("text"))
    documents(s, d).select(
      col("doc_id"),
      nSent.as("n_sentences"),
      maxChars.as("max_sent_chars"),
    )
  }

  /** Per-document readability ([[graft.ops.Text.readability]]): the
    * Flesch–Kincaid grade as an EXACT integer rational — words,
    * `[.!?]+` sentences, vowel-group syllables, and
    * `⌊(39W² + 1180YS − 1559SW)·10⁴ / (SW)⌋` ppm (floor division both
    * engines: DuckDB `//` vs the Spark pmod form — the numerator goes
    * negative for fragment spam). The quality-classifier feature and
    * curriculum-difficulty signal, float-free. */
  private val readabilityQ = Q(
    "txt_readability",
    """WITH t AS (SELECT doc_id, text, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |w AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
      |           s -> trim(s)), s -> length(s) > 0)) AS BIGINT) AS n_sentences,
      |    CAST(coalesce(list_sum(list_transform(toks,
      |           w -> greatest(len(regexp_extract_all(lower(w), '[aeiouy]+')), 1))), 0)
      |         AS BIGINT) AS n_syllables
      |  FROM t)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
      |    CAST(((39 * n_words * n_words + 1180 * n_syllables * n_sentences
      |           - 1559 * n_sentences * n_words) * 10000)
      |         // (n_sentences * n_words) AS BIGINT)
      |  END AS fk_grade_ppm
      |FROM w""".stripMargin,
  ) { (s, d) =>
    Text.readability(documents(s, d), "doc_id", "text")
  }

  /** Corpus-vs-corpus clipped n-gram precision
    * ([[graft.ops.Text.ngramOverlap]], n = 1, 2) between a held-out
    * candidate slice (doc_id ≡ 0 mod 10) and the rest of the corpus —
    * the BLEU-style modified precision used as a decontamination /
    * memorization diagnostic. Matched counts clip against the
    * reference multiset; exact integer ppm. */
  private val ngramOverlapQ = Q(
    "txt_ngram_overlap",
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id % 10 = 0 AS is_cand, 1 AS n, unnest(toks) AS gram FROM t
      |  UNION ALL
      |  SELECT doc_id % 10 = 0, 2,
      |    unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
      |           i -> toks[i] || ' ' || toks[i+1]))
      |  FROM t),
      |c AS (SELECT n, gram,
      |        sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS cc,
      |        sum(CASE WHEN NOT is_cand THEN 1 ELSE 0 END) AS cr
      |      FROM g GROUP BY 1, 2)
      |SELECT n, CAST(sum(cc) AS BIGINT) AS cand_ngrams,
      |  CAST(sum(least(cc, cr)) AS BIGINT) AS matched_ngrams,
      |  CAST(CASE WHEN sum(cc) > 0
      |    THEN (sum(least(cc, cr)) * 1000000) // sum(cc) ELSE 0 END AS BIGINT) AS precision_ppm
      |FROM c WHERE cc > 0 GROUP BY n""".stripMargin,
  ) { (s, d) =>
    val docs = documents(s, d)
    Text.ngramOverlap(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0),
      "text",
      ns = Seq(1, 2),
    )
  }

  /** Hashing-trick sparse bag-of-words ([[graft.ops.Text.featureHash]],
    * 256 slots): the vocabulary-free featurizer in sparse COO form —
    * md5-derived bucket + ±1 sign per token, one row per (doc, bucket).
    * The oracle replays the hash arithmetic digit for digit. */
  private val featureHashQ = Q(
    "txt_feature_hash",
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS tok FROM documents),
      |h AS (SELECT doc_id, md5(tok) AS h FROM toks)
      |SELECT doc_id,
      |  CAST(CAST(('0x' || substr(h, 1, 6)) AS BIGINT) % 256 AS BIGINT) AS bucket,
      |  count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN CAST(('0x' || substr(h, 7, 1)) AS BIGINT) < 8
      |           THEN 1 ELSE -1 END) AS BIGINT) AS signed_sum
      |FROM h GROUP BY 1, 2""".stripMargin,
  ) { (s, d) => Text.featureHash(documents(s, d), "doc_id", "text", buckets = 256) }

  /** Deterministic curriculum ordering
    * ([[graft.ops.Sampling.curriculumOrder]]): a dense total order
    * interleaving 10 difficulty deciles round-robin (difficulty =
    * n_chars), so every training window sees the full spectrum. The
    * oracle computes the position by the SPEC — rank of
    * (pos_in_bucket, bucket) via plain windows — while the Spark side
    * derives it arithmetically from the bounded-domain histogram and
    * a broadcast size array; the hash match proves the closed form. */
  private val curriculumOrderQ = Q(
    "txt_curriculum_order",
    """WITH r AS (SELECT doc_id AS id, n_chars AS score,
      |             row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rn0,
      |             count(*) OVER () AS n
      |           FROM documents
      |           WHERE n_chars IS NOT NULL),
      |b AS (SELECT id, score, rn0, n, (rn0 * 10) // n AS bucket FROM r),
      |k AS (SELECT id, score, rn0, bucket, rn0 - (bucket * n + 9) // 10 AS pib FROM b)
      |SELECT id, score, rn0 AS difficulty_rank, bucket, pib AS pos_in_bucket,
      |  row_number() OVER (ORDER BY pib, bucket) - 1 AS pos
      |FROM k""".stripMargin,
  ) { (s, d) =>
    graft.ops.Sampling.curriculumOrder(documents(s, d), "doc_id", "n_chars", buckets = 10)
  }

  /** Within-document consecutive-repeat collapse
    * ([[graft.ops.Text.collapseRepeats]]): stutter removal as a pure
    * map-only higher-order filter; the oracle replays the index-lambda
    * predicate (1-based there, 0-based in Spark) and the rejoin. */
  private val repeatCollapseQ = Q(
    "ddp_repeat_collapse",
    """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  list_aggregate(kept, 'string_agg', ' ') AS clean_text
      |FROM (
      |  SELECT doc_id, toks, list_filter(toks, (x, i) -> i = 1 OR x <> toks[i-1]) AS kept
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))""".stripMargin,
  ) { (s, d) =>
    Text.collapseRepeats(documents(s, d), "doc_id", "text")
  }

  /** DPO/RLHF preference-pair construction
    * ([[graft.ops.Sampling.preferencePairs]]): per (source, lang)
    * group, the longest document (token count as the quality proxy)
    * becomes `chosen` and the shortest `rejected`, strict margin
    * required, ties to the smallest doc_id on both ends. The oracle
    * selects both ends with rank windows; the Spark side's
    * min/max-struct argmax must agree row-for-row. */
  private val preferencePairsQ = Q(
    "txt_preference_pairs",
    """WITH s AS (SELECT source, lang, doc_id,
      |             CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) AS score
      |           FROM documents
      |           WHERE text IS NOT NULL),
      |b AS (SELECT source, lang, doc_id AS chosen_id, score AS chosen_score,
      |        row_number() OVER (PARTITION BY source, lang ORDER BY score DESC, doc_id) AS rn
      |      FROM s),
      |w AS (SELECT source, lang, doc_id AS rejected_id, score AS rejected_score,
      |        row_number() OVER (PARTITION BY source, lang ORDER BY score ASC, doc_id) AS rn
      |      FROM s),
      |n AS (SELECT source, lang, count(*) AS n_docs FROM s GROUP BY 1, 2)
      |SELECT b.source, b.lang, chosen_id, chosen_score, rejected_id, rejected_score,
      |  chosen_score - rejected_score AS margin, n_docs
      |FROM b JOIN w ON w.source = b.source AND w.lang = b.lang AND w.rn = 1
      |JOIN n ON n.source = b.source AND n.lang = b.lang
      |WHERE b.rn = 1 AND chosen_score - rejected_score >= 1""".stripMargin,
  ) { (s, d) =>
    val scored = documents(s, d)
      .withColumn("score", Text.tokenCount(col("text")))
    graft.ops.Sampling
      .preferencePairs(scored, Seq("source", "lang"), "doc_id", "score", minMargin = 1L)
  }

  /** WordPiece greedy longest-match tokenization
    * ([[Text.wordpieceTokenize]]) — the r9 BPE note's open per-word-loop
    * item, closed: the Spark side walks driver-bounded join rounds over
    * the distinct-words frame; the oracle walks the IDENTICAL chain as
    * a recursive CTE whose recursive term finds the greedy longest
    * match with a correlated `max(blen)` subquery. The vocabulary is
    * corpus-derived in both engines ([[Text.wordpieceVocabFromHist]]: alphabet
    * singles base+`##`, top-8 words, top-8 2-char prefixes, top-8
    * position-3 continuation bigrams). `maxWordLen = 6` is BELOW the
    * corpus max word length (8), so the `[UNK]` long-word path is
    * exercised by the differential, not just by specs. Output is the
    * per-document fertility rollup (occurrences join the tokenized
    * distinct words). */
  private val wordpieceQ = Q(
    "txt_wordpiece_tokenize",
    """WITH RECURSIVE
      |occ AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS word FROM documents),
      |words AS (SELECT DISTINCT word FROM occ),
      |singles AS (
      |  SELECT DISTINCT unnest(list_transform(generate_series(1, length(word)),
      |    i -> substring(word, i, 1))) AS body FROM words),
      |topw AS (
      |  SELECT piece FROM (
      |    SELECT word AS piece, row_number() OVER (ORDER BY count(*) DESC, word) AS rn
      |    FROM occ GROUP BY word) WHERE rn <= 8),
      |pre2 AS (
      |  SELECT piece FROM (
      |    SELECT substring(word, 1, 2) AS piece,
      |      row_number() OVER (ORDER BY count(*) DESC, substring(word, 1, 2)) AS rn
      |    FROM occ WHERE length(word) >= 2 GROUP BY substring(word, 1, 2)) WHERE rn <= 8),
      |cont2 AS (
      |  SELECT '##' || piece AS piece FROM (
      |    SELECT substring(word, 3, 2) AS piece,
      |      row_number() OVER (ORDER BY count(*) DESC, substring(word, 3, 2)) AS rn
      |    FROM occ WHERE length(word) >= 4 GROUP BY substring(word, 3, 2)) WHERE rn <= 8),
      |vocab AS (
      |  SELECT DISTINCT piece FROM (
      |    SELECT body AS piece FROM singles
      |    UNION ALL SELECT '##' || body FROM singles
      |    UNION ALL SELECT piece FROM topw
      |    UNION ALL SELECT piece FROM pre2
      |    UNION ALL SELECT piece FROM cont2)),
      |v AS (
      |  SELECT piece,
      |    CASE WHEN piece LIKE '##%' THEN substring(piece, 3) ELSE piece END AS body,
      |    (piece LIKE '##%') AS is_cont,
      |    length(CASE WHEN piece LIKE '##%' THEN substring(piece, 3) ELSE piece END) AS blen
      |  FROM vocab
      |  -- mirror the Scala side's defensive blen >= 1 filter: an
      |  -- empty-bodied piece (bare '##') would match '' and advance
      |  -- pos by 0 — non-terminating recursion
      |  WHERE length(CASE WHEN piece LIKE '##%' THEN substring(piece, 3) ELSE piece END) >= 1),
      |step AS (
      |  SELECT word, length(word) AS wlen, 0 AS pos,
      |    CAST([] AS VARCHAR[]) AS pieces, length(word) > 6 AS failed
      |  FROM words
      |  UNION ALL
      |  SELECT word, wlen,
      |    CASE WHEN m IS NULL THEN wlen ELSE pos + m END AS pos,
      |    CASE WHEN m IS NULL THEN pieces
      |      ELSE list_append(pieces,
      |        CASE WHEN pos > 0 THEN '##' || substring(word, pos + 1, m)
      |             ELSE substring(word, pos + 1, m) END) END AS pieces,
      |    (m IS NULL) AS failed
      |  FROM (
      |    SELECT s.word, s.wlen, s.pos, s.pieces,
      |      (SELECT max(v.blen) FROM v
      |        WHERE v.is_cont = (s.pos > 0)
      |          AND v.body = substring(s.word, s.pos + 1, v.blen)) AS m
      |    FROM step s WHERE NOT s.failed AND s.pos < s.wlen)),
      |fin AS (
      |  SELECT word,
      |    CASE WHEN failed THEN 1 ELSE len(pieces) END AS n_pieces,
      |    failed
      |  FROM step WHERE failed OR pos >= wlen)
      |SELECT o.doc_id,
      |  count(*) AS n_words,
      |  CAST(sum(f.n_pieces) AS BIGINT) AS n_pieces,
      |  CAST(sum(CASE WHEN f.failed THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
      |FROM occ o JOIN fin f USING (word)
      |GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    val occ = documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
    // ONE corpus word census feeds both the vocab derivation and the
    // tokenizer's distinct-word input (the un-shared form exploded the
    // corpus three times: vocab hist, tokenizer distinct, final join —
    // r16 optimization round, guide §2.4)
    val hist = occ
      .groupBy(col("word"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = false)
    val vocab = Text.wordpieceVocabFromHist(hist, topWords = 8, topPrefixes = 8)
    val wp    = Text.wordpieceTokenize(hist.select("word"), vocab, maxWordLen = 6)
    occ
      .join(broadcast(wp), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("is_unk").cast("long")).as("n_unk"),
      )
  }

  /** Trigram stupid-backoff LM over a held-out split
    * ([[graft.ops.Text.trigramBackoffScoreFromTables]]): counts from the
    * doc_id % 10 ≠ 0 train slice, scores on the % 10 = 0 slice, so the
    * backoff ladder (trigram hit → α·bigram → α²·unigram → OOV zero)
    * actually fires — [[bigramLm]] scores against self-trained counts
    * where every observed n-gram hits by construction. α = 2/5 stays
    * an integer ratio; every level is a floored count quotient, and
    * the per-level hit census rides along as the diagnostic. */
  private val trigramBackoffQ = Q(
    "txt_trigram_backoff",
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |tr AS (SELECT doc_id, toks FROM t WHERE doc_id % 10 <> 0),
      |te AS (SELECT doc_id, toks FROM t WHERE doc_id % 10 = 0 AND len(toks) >= 3),
      |u AS (SELECT unnest(toks) AS w FROM tr),
      |c1 AS (SELECT w, count(*) AS c1 FROM u GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM u),
      |b AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
      |               i -> toks[i] || ' ' || toks[i+1])) AS bg
      |      FROM tr WHERE len(toks) >= 2),
      |c2 AS (SELECT bg, count(*) AS c2 FROM b GROUP BY 1),
      |g AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
      |               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tg
      |      FROM tr WHERE len(toks) >= 3),
      |c3 AS (SELECT tg, count(*) AS c3 FROM g GROUP BY 1),
      |q AS (SELECT doc_id,
      |        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tg,
      |        toks[i] || ' ' || toks[i+1] AS ctx2,
      |        toks[i+1] || ' ' || toks[i+2] AS bg,
      |        toks[i+1] AS w2, toks[i+2] AS w3
      |      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i FROM te)),
      |p AS (SELECT q.doc_id,
      |        CASE WHEN c3.c3 IS NOT NULL THEN (c3.c3 * 1000000) // cc.c2
      |             WHEN cb.c2 IS NOT NULL THEN (2 * ((cb.c2 * 1000000) // c1x.c1)) // 5
      |             WHEN c1y.c1 IS NOT NULL THEN (4 * ((c1y.c1 * 1000000) // nn.n)) // 25
      |             ELSE 0 END AS p,
      |        CASE WHEN c3.c3 IS NOT NULL THEN 3
      |             WHEN cb.c2 IS NOT NULL THEN 2
      |             WHEN c1y.c1 IS NOT NULL THEN 1 ELSE 0 END AS lvl
      |      FROM q
      |      LEFT JOIN c3 ON c3.tg = q.tg
      |      LEFT JOIN c2 cc ON cc.bg = q.ctx2
      |      LEFT JOIN c2 cb ON cb.bg = q.bg
      |      LEFT JOIN c1 c1x ON c1x.w = q.w2
      |      LEFT JOIN c1 c1y ON c1y.w = q.w3
      |      CROSS JOIN nn)
      |SELECT doc_id, count(*) AS n_trigrams,
      |  CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
      |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
      |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
      |  CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(sum(p) // count(*) AS BIGINT) AS lm_score_ppm
      |FROM p GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    graft.ops.Text
      .trigramBackoffScoreFromTables(
        documents(s, d), "doc_id", "text", expr("doc_id % 10 = 0"), lmTables(s, d))
  }

  /** Good–Turing frequency-of-frequencies
    * ([[graft.ops.Text.freqOfFreqsFromTermCounts]]) over TRIGRAM counts: N_r for r ≤ 10 plus the GT adjusted-count
    * ppm — the smoothing table an n-gram LM derives its unseen-mass
    * estimate from. Trigrams, not word tokens, because that is where
    * the low-r mass lives (the bounded word vocabulary here has no
    * type rarer than r = 26 — GT over it is an empty table). */
  /** The trigram-census CTE block (tokens → shingles → per-type count
    * r), shared verbatim by [[freqOfFreqsQ]] and [[chao1Q]] — both
    * read the same lmTables artifact, so their oracles must replay the
    * same census or drift silently (the burstLabelCtes convention). */
  private val trigramCensusCtes: String =
    """WITH toks AS (SELECT regexp_extract_all(text, '\w+') AS toks FROM documents),
      |sh AS (SELECT unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS t FROM toks),
      |cnt AS (SELECT t, count(*) AS r FROM sh GROUP BY 1)""".stripMargin

  private val freqOfFreqsQ = Q(
    "txt_freq_of_freqs",
    s"""$trigramCensusCtes,
      |nr AS (SELECT r, count(*) AS n_r FROM cnt WHERE r <= 11 GROUP BY 1)
      |SELECT a.r, a.n_r,
      |  CAST((a.r + 1) * b.n_r * 1000000 // a.n_r AS BIGINT) AS gt_rstar_ppm
      |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
      |WHERE a.r <= 10""".stripMargin,
  ) { (s, d) =>
    graft.ops.Text.freqOfFreqsFromTermCounts(
      lmTables(s, d).tri.groupBy("tg").agg(sum(col("c")).as("r")),
      maxR = 10,
    )
  }

  /** Chao1 richness estimate ([[graft.ops.Text.chao1FromTermCounts]])
    * over TRIGRAM types (the word vocabulary here has no type rarer
    * than r = 26 — the singleton/doubleton mass Chao1 feeds on lives
    * in the n-grams): how many trigram types the corpus has including
    * the unsampled tail — Good–Turing's companion from the same
    * shared n-gram store. */
  private val chao1Q = Q(
    "txt_chao1",
    s"""$trigramCensusCtes
      |SELECT CAST(count(*) AS BIGINT) AS s_obs,
      |  CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |  CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
      |  CAST(count(*) * 1000000
      |    + CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS HUGEINT)
      |      * (sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) - 1) * 1000000
      |      // (2 * (sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) + 1)) AS BIGINT) AS chao1_ppm
      |FROM cnt""".stripMargin,
  ) { (s, d) =>
    graft.ops.Text.chao1FromTermCounts(
      lmTables(s, d).tri.groupBy("tg").agg(sum(col("c")).as("r"))
    )
  }

  /** Corpus-coverage report
    * ([[graft.ops.Text.coverageReportFromTermCounts]]): Good–Turing
    * sample coverage (unseen MASS) beside Chao1 completeness (unseen
    * TYPES) over the same trigram census — the one row a
    * crawl-more-or-stop decision reads. Oracle composes the shared
    * census CTE with the same exact-integer arithmetic (DuckDB lateral
    * column aliases mirror the Spark withColumn chain). */
  private val coverageReportQ = Q(
    "txt_coverage_report",
    s"""$trigramCensusCtes
      |SELECT CAST(sum(r) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS s_obs,
      |  CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |  CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
      |  CAST((n_tokens - f1) * 1000000 // n_tokens AS BIGINT) AS gt_coverage_ppm,
      |  CAST(s_obs * 1000000
      |    + CAST(f1 AS HUGEINT) * (f1 - 1) * 1000000 // (2 * (f2 + 1)) AS BIGINT) AS chao1_ppm,
      |  CAST(CAST(s_obs AS HUGEINT) * 1000000 * 1000000 // chao1_ppm AS BIGINT)
      |    AS completeness_ppm
      |FROM cnt""".stripMargin,
  ) { (s, d) =>
    graft.ops.Text.coverageReportFromTermCounts(
      lmTables(s, d).tri.groupBy("tg").agg(sum(col("c")).as("r"))
    )
  }

  /** Kneser–Ney continuation counts
    * ([[graft.ops.Text.knContinuationCountsFromTables]]): distinct-context
    * censuses per word plus the continuation-probability ppm — the
    * smoothing table that discounts frequent-but-predictable words. */
  private val knCountsQ = Q(
    "txt_kn_counts",
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |bg AS (
      |  SELECT DISTINCT toks[i] AS w1, toks[i+1] AS w2
      |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |        FROM t WHERE len(toks) >= 2)),
      |tt AS (SELECT count(*) AS t FROM bg),
      |uni AS (SELECT unnest(toks) AS word FROM t),
      |u AS (SELECT word, count(*) AS c FROM uni GROUP BY 1),
      |l AS (SELECT w2 AS word, count(*) AS n_left FROM bg GROUP BY 1),
      |r AS (SELECT w1 AS word, count(*) AS n_right FROM bg GROUP BY 1)
      |SELECT u.word, u.c,
      |  coalesce(l.n_left, 0) AS n_left,
      |  coalesce(r.n_right, 0) AS n_right,
      |  CAST(coalesce(l.n_left, 0) * 1000000 // tt.t AS BIGINT) AS pcont_ppm
      |FROM u LEFT JOIN l USING (word) LEFT JOIN r USING (word) CROSS JOIN tt""".stripMargin,
  ) { (s, d) =>
    graft.ops.Text.knContinuationCountsFromTables(lmTables(s, d))
  }

  /** Token-LCS similarity ([[graft.functions.LcsLenExpr]]) between
    * consecutive-id document pairs over their FIRST 40 tokens (the DP
    * is quadratic in the prefix lengths — bounding them is the
    * caller's contract, sliced identically in both engines): the
    * order-preserving overlap that separates quoted/templated passages
    * from bag-of-words coincidence. Oracle replays the identical
    * rolling-row DP as a cell-sequential recursive CTE with the
    * [[graft.queries.Events]] DTW sliding-buffer convention (left =
    * buf[m+2], up = buf[2], diag = buf[1], boundaries 0) — exact on
    * lengths, LCS, and the 2·lcs/(n+m) dice similarity ppm. */
  private val lcsPairsQ = Q(
    "txt_lcs_pairs",
    """WITH RECURSIVE
      |t AS (SELECT doc_id, (regexp_extract_all(text, '\w+'))[1:40] AS toks FROM documents),
      |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.toks AS aa, b.toks AS bb,
      |            len(a.toks) AS n, len(b.toks) AS m
      |          FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      |          WHERE a.doc_id < 40 AND len(a.toks) + len(b.toks) > 0),
      |rec AS (
      |  SELECT a_id, b_id, aa, bb, n, m, -1 AS s,
      |    list_transform(range(m + 2), x -> CAST(0 AS BIGINT)) AS buf
      |  FROM pairs
      |  UNION ALL
      |  SELECT a_id, b_id, aa, bb, n, m, s + 1,
      |    list_append(buf[2:],
      |      CASE WHEN (s+1) // (m+1) = 0 OR (s+1) % (m+1) = 0 THEN 0
      |           WHEN aa[(s+1) // (m+1)] = bb[(s+1) % (m+1)] THEN buf[1] + 1
      |           ELSE greatest(buf[m+2], buf[2]) END)
      |  FROM rec WHERE s + 1 < (n + 1) * (m + 1))
      |SELECT a_id, b_id, CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
      |  CAST(buf[m+2] AS BIGINT) AS lcs,
      |  CAST(buf[m+2] * 2 * 1000000 // (n + m) AS BIGINT) AS sim_ppm
      |FROM rec WHERE s = (n + 1) * (m + 1) - 1""".stripMargin,
  ) { (s, d) =>
    val t = documents(s, d)
      .select(col("doc_id"), slice(graft.ops.Text.tokens(col("text")), 1, 40).as("toks"))
    t.filter(col("doc_id") < 40)
      .select(col("doc_id").as("a_id"), col("toks").as("__a"))
      .join(
        t.select((col("doc_id") - 1).as("a_id"), col("doc_id").as("b_id"), col("toks").as("__b")),
        Seq("a_id"),
      )
      // NULL-text pin (r15 ADVICE): Spark's size(NULL) is -1 while the
      // oracle's len(NULL) predicate is NULL-and-drops — require both
      // token arrays non-null explicitly so a NULL-text document is
      // dropped identically in both engines.
      .filter(col("__a").isNotNull && col("__b").isNotNull &&
        size(col("__a")) + size(col("__b")) > 0)
      .select(
        col("a_id"),
        col("b_id"),
        size(col("__a")).cast("long").as("n_a"),
        size(col("__b")).cast("long").as("n_b"),
        graft.functions.LcsLenExpr.lcs_len(col("__a"), col("__b")).as("lcs"),
      )
      // derive from the computed column — the quadratic DP runs ONCE
      .withColumn("sim_ppm", expr("lcs * 2 * 1000000L div (n_a + n_b)"))
  }

  /** RAKE keyword extraction ([[graft.ops.Text.rakeKeywords]]): top-3
    * degree/frequency-scored candidate phrases per document; the
    * oracle replays the segmentation (running stopword count), both
    * count tables, the per-word floor, and the rank — stopword list
    * shared verbatim. */
  private val rakeKeywordsQ = Q(
    "txt_rake_keywords", {
      val stopList = graft.ops.Text.rakeStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM t),
         |fl AS (SELECT doc_id, pos, toks[pos] AS w, toks[pos] IN ($stopList) AS is_stop FROM tok),
         |seg AS (SELECT doc_id, pos, w, is_stop,
         |          sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY doc_id ORDER BY pos) AS ph
         |        FROM fl),
         |occ AS (SELECT doc_id, ph, pos, w FROM seg WHERE NOT is_stop),
         |plen AS (SELECT doc_id, ph, count(*) AS plen FROM occ GROUP BY 1, 2),
         |wstat AS (
         |  SELECT o.doc_id, o.w, CAST(sum(p.plen) * 1000000 // count(*) AS BIGINT) AS wscore
         |  FROM occ o JOIN plen p USING (doc_id, ph) GROUP BY 1, 2),
         |phr AS (
         |  SELECT DISTINCT o.doc_id,
         |    string_agg(o.w, ' ' ORDER BY o.pos) AS phrase,
         |    count(*) AS n_words,
         |    CAST(sum(s.wscore) AS BIGINT) AS score_ppm
         |  FROM occ o JOIN wstat s ON s.doc_id = o.doc_id AND s.w = o.w
         |  GROUP BY o.doc_id, o.ph),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                   ORDER BY score_ppm DESC, phrase) AS rnk FROM phr)
         |SELECT doc_id, phrase, CAST(n_words AS BIGINT) AS n_words, score_ppm,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM rk WHERE rnk <= 3""".stripMargin
    },
  ) { (s, d) =>
    graft.ops.Text.rakeKeywords(documents(s, d), "doc_id", "text", topK = 3)
  }

  val all: Seq[Q] =
    Seq(tokenStats, bpeishTokens, quality, langIdAgreement, shingleStats, winnow, packBudget,
      repetition, tfidfTopk, rareTokens, piiMask, frequentShingles, boilerplate, qualityReportQ,
      sourceFilterQ, chunkOverlap, bigramLm, bpeMerges, bpeTokenize, lmPrune, invertedIndexQ,
      packManifest, bm25Topk, rrfFusion, bpeFertility, batchPadding, collocationsQ, vocabStatsQ,
      negSamplingQ, skipGramQ, curriculumOrderQ, repeatCollapseQ, preferencePairsQ,
      featureHashQ, sentenceStatsQ, langIdKappaQ, tokenGiniQ, wordpieceQ, readabilityQ,
      ngramOverlapQ, trigramBackoffQ, freqOfFreqsQ, chao1Q, coverageReportQ, knCountsQ, rakeKeywordsQ, lcsPairsQ)
}
