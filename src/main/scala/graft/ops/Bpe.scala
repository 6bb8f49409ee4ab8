package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction (Sennrich, Haddow, Birch
  * 2016 — "Neural Machine Translation of Rare Words with Subword
  * Units"): starting from characters (plus an end-of-word marker),
  * repeatedly merge the most frequent adjacent symbol pair; the ordered
  * merge list IS the learned tokenizer vocabulary.
  *
  * Scale shape — the reason BPE training is feasible on a 100 TB
  * corpus at all: training never iterates the corpus. ONE corpus-scale
  * shuffle builds the word-frequency table (the standard trick, used by
  * the original Sennrich implementation and SentencePiece alike: merge
  * statistics depend only on (distinct word, count)); every merge round
  * then runs over that compact vocab table — a pair-count hash
  * aggregate (map-side combinable, weighted by word frequency), a
  * 1-row argmax collect (driver-side, the [[Similarity]] codebook
  * precedent: index PARAMETERS may live on the driver, corpus data
  * never), and a map-only merge application. k merges = 1 corpus
  * shuffle + k vocab-table rounds, `localCheckpoint` per round to keep
  * lineage flat (the [[PageRank]] discipline).
  *
  * CROSS-ENGINE MERGE-APPLY SEMANTICS — the part that long blocked an
  * oracle (BACKLOG's open item), solved by anchored string replace:
  * a word's symbol sequence is one string with a DOUBLE-space
  * separator and double-space sentinels (`"  a  b  </w>  "`), and
  * applying merge (x, y) is the literal replace of `" x  y "` with
  * `" xy "`. Each match consumes one space of each boundary
  * double-space and the replacement restores them, so the
  * double-separator invariant is preserved AND adjacent occurrences
  * (`a b a b`) still both merge — while overlapping ones (`a a a`
  * under (a,a)) resolve greedily left-to-right, exactly BPE's apply
  * rule, because leftmost-non-overlapping literal replace IS the
  * greedy scan, and Spark's `replace` and DuckDB's `replace` share
  * that semantics bit-for-bit. No floats anywhere; ties in the argmax
  * break on (pair) ascending; the whole induction is deterministic
  * under any partitioning and replayable in ANSI-ish SQL.
  *
  * The end-of-word marker `</w>` cannot collide with `\w+` tokens
  * (it contains `<`, `/`, `>`), and symbols never contain spaces, so
  * the anchoring is unambiguous.
  */
object Bpe {

  /** The spaced-symbol initialization of one word: `"  c1  c2  …  </w>  "`. */
  private def symInit(word: org.apache.spark.sql.Column) =
    concat(lit("  "), regexp_replace(word, "(.)", "$1  "), lit("</w>  "))

  /** Learn the first `numMerges` BPE merges over the `\w+` tokens of
    * `textCol`. Returns one row per merge: `merge_rank` (1-based,
    * application order), `lhs`, `rhs`, `merged` (= lhs ++ rhs), and
    * `pair_count` (frequency-weighted adjacent-pair count at the time
    * of the merge). Stops early if no pair is left. */
  def learnMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
  ): DataFrame =
    learnMergesFromWords(wordFreq(docs, textCol), numMerges)

  /** The one corpus-scale pass: distinct words + frequencies. Exposed
    * because this table is the ONLY corpus-derived input BPE training
    * needs — a streaming vocab monitor maintains it incrementally
    * (word counts merge by addition across micro-batches) and re-runs
    * the compact merge rounds from it ([[StreamingQueries]]'
    * `stream_bpe_drift`). */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(Text.tokens(col(textCol))).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"))

  /** [[learnMerges]] from an already-built (w, freq) table. */
  def learnMergesFromWords(
      words: DataFrame,
      numMerges: Int,
  ): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = words.sparkSession
    // persist (not localCheckpoint): an evicted persisted block
    // recomputes from lineage, while a lost localCheckpoint block is a
    // hard failure — under whole-suite memory pressure the training
    // loop must degrade to recompute, never to an error. Each round
    // reads ONLY the previous round's table, so a two-element window
    // is kept persisted: as soon as round r is materialized (by its
    // pair-count collect), round r-1 unpersists — the cache footprint
    // is 2 vocab tables regardless of numMerges, and the final table
    // unpersists before returning (the returned merge list is
    // driver-materialized rows, independent of all of them).
    var prevPersisted: Option[DataFrame] = None
    def keep(df: DataFrame): DataFrame = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }
    def rotate(newer: DataFrame): Unit = {
      prevPersisted.foreach(_.unpersist(blocking = false))
      prevPersisted = Some(newer)
    }
    var cur    = keep(words.select(symInit(col("w")).as("sym"), col("freq")))
    val merges = scala.collection.mutable.ListBuffer.empty[Row]
    var rank   = 1
    var done   = false
    while (rank <= numMerges && !done) {
      val best = cur
        .select(col("freq"), split(trim(col("sym")), "  ").as("syms"))
        // a fully-merged single-symbol word has no pairs; unguarded,
        // sequence(1, 0) DESCENDS ([1, 0]) and element_at(syms, 2)
        // throws. DuckDB's generate_series(1, 0) is empty, so the
        // filter is also the oracle's semantics.
        .filter(size(col("syms")) >= 2)
        .select(
          col("freq"),
          explode(
            expr(
              "transform(sequence(1, size(syms) - 1)," +
                " i -> struct(element_at(syms, i) AS lhs, element_at(syms, i + 1) AS rhs))"
            )
          ).as("p"),
        )
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1)
        .collect()
      // the collect above materialized `cur`; its predecessor's blocks
      // are no longer on any hot path — drop them (recompute-safe)
      rotate(cur)
      if (best.isEmpty) done = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Row(rank, l, r, l + r, c)
        cur = keep(
          cur.withColumn(
            "sym",
            replace(col("sym"), lit(s" $l  $r "), lit(s" $l$r ")),
          )
        )
        rank += 1
      }
    }
    prevPersisted.foreach(_.unpersist(blocking = false))
    cur.unpersist(blocking = false)
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(merges.toSeq).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("merge_rank", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("lhs", org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("rhs", org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("merged", org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("pair_count", org.apache.spark.sql.types.LongType, nullable = false),
      )),
    )
  }

  /** Grouped BPE training: learn `numMerges` merges INDEPENDENTLY per
    * key (per source, per drift window, per language) from a
    * (key, w, freq) table — in one dataflow per round instead of one
    * per key. Each round is a single pair-count aggregation over all
    * keys, a per-key argmax (window over the compact pair table), a
    * ≤|keys|-row collect, and a broadcast-join merge application whose
    * replace pattern comes from the key's own argmax row. Per-key
    * results are identical to running [[learnMergesFromWords]] on each
    * key's slice (same statistics, same ascending tie-break, same
    * anchored apply — spec-pinned); the cost is O(rounds) scans of the
    * vocab table regardless of |keys|, which is what makes a
    * many-window drift monitor or per-source vocabulary study viable.
    * Keys whose pairs run dry just stop accruing merges (the left
    * join leaves their symbols untouched). Output adds `keyCol` to
    * the [[learnMerges]] schema. */
  def learnMergesPerKey(
      words: DataFrame,
      keyCol: String,
      numMerges: Int,
  ): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = words.sparkSession
    var prevPersisted: Option[DataFrame] = None
    def keep(df: DataFrame): DataFrame = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }
    def rotate(newer: DataFrame): Unit = {
      prevPersisted.foreach(_.unpersist(blocking = false))
      prevPersisted = Some(newer)
    }
    var cur = keep(
      words.select(col(keyCol).as("__key"), symInit(col("w")).as("sym"), col("freq"))
    )
    val merges = scala.collection.mutable.ListBuffer.empty[Row]
    var rank   = 1
    var done   = false
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__key")
      .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
    while (rank <= numMerges && !done) {
      val best = cur
        .select(col("__key"), col("freq"), split(trim(col("sym")), "  ").as("syms"))
        .filter(size(col("syms")) >= 2) // see learnMergesFromWords
        .select(
          col("__key"),
          col("freq"),
          explode(
            expr(
              "transform(sequence(1, size(syms) - 1)," +
                " i -> struct(element_at(syms, i) AS lhs, element_at(syms, i + 1) AS rhs))"
            )
          ).as("p"),
        )
        .groupBy(col("__key"), col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("freq").as("cnt"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .collect() // bounded: one row per key
      rotate(cur)
      if (best.isEmpty) done = true
      else {
        best.foreach { r =>
          merges += Row(r.get(0), rank, r.getString(1), r.getString(2),
            r.getString(1) + r.getString(2), r.getLong(3))
        }
        val keyType = words.schema(keyCol).dataType
        val bdf = spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters
              .SeqHasAsJava(best.toSeq.map(r => Row(r.get(0), r.getString(1), r.getString(2))))
              .asJava
          ),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__key", keyType, nullable = true),
            org.apache.spark.sql.types.StructField("__l", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("__r", org.apache.spark.sql.types.StringType),
          )),
        )
        cur = keep(
          cur
            .join(broadcast(bdf), Seq("__key"), "left")
            .withColumn(
              "sym",
              when(
                col("__l").isNotNull,
                replace(
                  col("sym"),
                  concat(lit(" "), col("__l"), lit("  "), col("__r"), lit(" ")),
                  concat(lit(" "), col("__l"), col("__r"), lit(" ")),
                ),
              ).otherwise(col("sym")),
            )
            .drop("__l", "__r")
        )
        rank += 1
      }
    }
    prevPersisted.foreach(_.unpersist(blocking = false))
    cur.unpersist(blocking = false)
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(merges.toSeq).asJava
      ),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(keyCol, words.schema(keyCol).dataType, nullable = true),
        org.apache.spark.sql.types.StructField("merge_rank", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("lhs", org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("rhs", org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("merged", org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("pair_count", org.apache.spark.sql.types.LongType, nullable = false),
      )),
    )
  }

  /** Above this many merges, [[applyMerges]] switches from the
    * expression fold to the runtime loop — see the mechanism note
    * there. 64 keeps every gate/oracle query on the fold (whose plan
    * the oracles replay as unrolled CTEs) while real vocabularies
    * (32k merges) take the loop. */
  val FoldLimit = 64

  /** Tokenize `textCol` with a learned merge list: initialize each
    * word's spaced-symbol string and apply the merges IN RANK ORDER
    * (application order is part of the BPE contract), then split back
    * into subword tokens. `merges` is the [[learnMerges]] output,
    * collected — tokenizer vocabularies are driver-sized constants
    * (the codebook precedent). Output: one row per (docs row) with
    * `bpe_tokens` joined by a single space.
    *
    * MECHANISM, sized to the vocabulary (r9 verdict item 8): the
    * original form folds one `replace` Column per merge — an
    * expression tree as DEEP as the merge list, which at a realistic
    * vocabulary (1k–32k merges) overflows the analyzer/codegen stack
    * long before the constant pool matters (measured: fold dies with
    * StackOverflowError at 400 merges on a fresh test thread; a
    * warmed-up thread with different residual stack can survive the
    * same depth — viability that depends on the CALLER's stack is
    * itself disqualifying; see BpeScaleSpec). So past [[FoldLimit]]
    * the merge list becomes DATA
    * instead of PLAN: one `typedlit` array literal of (pattern,
    * replacement) structs — a single flat Literal node, constant plan
    * depth at any vocabulary size — and `aggregate(pairs, init,
    * replace)` loops over it at RUNTIME, per word. `aggregate`'s
    * left-fold order IS rank order, and each step is the identical
    * anchored literal replace, so the two mechanisms are
    * bit-equivalent (BpeScaleSpec asserts it on the overlap). */
  def applyMerges(
      docs: DataFrame,
      textCol: String,
      merges: Seq[(String, String)],
  ): DataFrame = applyMergesImpl(docs, textCol, merges, FoldLimit)

  /** [[applyMerges]] with the mechanism threshold exposed —
    * BpeScaleSpec forces each path to pin their bit-equivalence. */
  private[ops] def applyMergesImpl(
      docs: DataFrame,
      textCol: String,
      merges: Seq[(String, String)],
      foldLimit: Int,
  ): DataFrame = {
    def tokenizeFold(word: org.apache.spark.sql.Column) =
      merges.foldLeft(symInit(word)) { case (acc, (l, r)) =>
        replace(acc, lit(s" $l  $r "), lit(s" $l$r "))
      }
    def tokenizeLoop(word: org.apache.spark.sql.Column) = {
      val pairs = typedlit(merges.map { case (l, r) => (s" $l  $r ", s" $l$r ") })
      aggregate(
        pairs,
        symInit(word),
        (acc, m) => replace(acc, m.getField("_1"), m.getField("_2")),
      )
    }
    def tokenize(word: org.apache.spark.sql.Column) = {
      val folded = if (merges.size <= foldLimit) tokenizeFold(word) else tokenizeLoop(word)
      // collapse the double separators back to single spaces
      replace(trim(folded), lit("  "), lit(" "))
    }
    docs.withColumn(
      "bpe_tokens",
      array_join(transform(Text.tokens(col(textCol)), w => tokenize(w)), " "),
    )
  }
}
