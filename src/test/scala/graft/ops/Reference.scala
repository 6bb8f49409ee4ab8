package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference forms that specs compare live operators against. Each is
  * the plain composed or relational spelling of what an operator in
  * `src/main` computes a faster way; none is on a gate, pipeline or
  * benchmark path, so they live beside the specs.
  */
object Reference {
  import Dedup.{cappedShingles, docFreq, lshBands, lshCandidates, verifyJaccard}
  import Text.{backoffScorePositions, freqOfFreqsFromTermCounts, tokens}

  /** Distinct (doc_id, sh) shingle rows composed from built-ins
    * ([[Text.tokens]], [[Text.shingles]], `array_distinct`): the
    * semantics [[Dedup.shingleSets]]' native generator must match. */
  def shingleSetsComposed(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("__toks"))
      .select(
        col("doc_id"),
        explode(array_distinct(Text.shingles(col("__toks"), n))).as("sh"),
      )

  /** Relational md5 MinHash signatures, wide form `(doc_id,
    * mh0..mh{k-1})`: per seed, the min over the doc's shingles of
    * md5(seed ':' shingle) — what [[Dedup.minhashSignaturesNative]]
    * must equal bit for bit. */
  def minhashSignatures(shingles: DataFrame, k: Int): DataFrame =
    shingles
      .groupBy(col("doc_id"))
      .agg(
        min(md5(concat(lit("0:"), col("sh")))).as("mh0"),
        (1 until k).map(seed => min(md5(concat(lit(s"$seed:"), col("sh")))).as(s"mh$seed")): _*
      )

  /** MinHash-LSH pairs over an exploded shingle table: relational
    * signatures, [[Dedup.lshBands]] banding, exact Jaccard verify — the
    * result [[Dedup.minhashLshPairsFromSketches]] must reproduce. */
  def minhashLshPairs(
      shingles: DataFrame,
      k: Int,
      rowsPerBand: Int,
      minJaccard: Double,
  ): DataFrame = {
    val cands = lshCandidates(lshBands(minhashSignatures(shingles, k), rowsPerBand))
    verifyJaccard(cands, shingles, minJaccard)
  }

  /** Naive shingle containment pairs `(inner_id, outer_id,
    * n_shingles)`: the df >= 2 pruned self-join with the predicate
    * `c = |inner|`, which [[Dedup.containmentPairsPrefix]] must equal. */
  def containmentPairs(shingles: DataFrame, maxDocFreq: Option[Long] = None): DataFrame = {
    val (capped, cappedFreq) = cappedShingles(shingles, docFreq(shingles), maxDocFreq)
    val sizes    = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val joinable = cappedFreq.filter(col("__df") >= 2).select("sh")
    val pruned   = capped.join(joinable, "sh")
    val common = pruned
      .as("a")
      .join(pruned.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("inner_id"), col("b.doc_id").as("outer_id"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.as("na"), col("inner_id") === col("na.doc_id"))
      .filter(col("c") === col("na.n"))
      .select(col("inner_id"), col("outer_id"), col("c").as("n_shingles"))
  }

  /** Relational 32-bit SimHash over a shingle table: bit j is the
    * sign of the ±1 votes of md5(shingle)'s j-th hex nibble top bit. */
  def simhash32(shingles: DataFrame): DataFrame = {
    val hashed = shingles.select(col("doc_id"), md5(col("sh")).as("h"))
    val votes = (1 to 32).map { pos =>
      sum(
        when(expr(s"instr('0123456789abcdef', substring(h, $pos, 1)) - 1") >= 8, 1).otherwise(-1)
      ).as(s"s$pos")
    }
    val sig = (1 to 32)
      .map(pos => when(col(s"s$pos") > 0, lit(1L << (pos - 1))).otherwise(0L))
      .reduce(_ + _)
    hashed
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** Relational 64-bit md5 SimHash: bits 0–31 as [[simhash32]], bits
    * 32–63 from each nibble's second bit (value & 4). Bit 63 wraps
    * through two's complement, as the native expression's does. */
  def simhash64Md5(shingles: DataFrame): DataFrame = {
    val hashed = shingles.select(col("doc_id"), md5(col("sh")).as("h"))
    def digit(pos: Int) = expr(s"instr('0123456789abcdef', substring(h, $pos, 1)) - 1")
    val votes = (0 until 64).map { j =>
      val bitSet =
        if (j < 32) digit(j + 1) >= 8
        else digit(j - 31) % 8 >= 4
      sum(when(bitSet, 1).otherwise(-1)).as(s"s$j")
    }
    val sig = (0 until 64)
      .map(pos => when(col(s"s$pos") > 0, lit(1L << pos)).otherwise(0L))
      .reduce(_ + _)
    hashed
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** Min-label-propagation connected components, the baseline
    * [[Dedup.clusterPairs]] is checked against: one join + one
    * aggregation per round, diameter rounds; fails loudly when
    * `maxIter` rounds do not converge. */
  def clusterPairsPropagate(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .persist()
    var labels = edges
      .select(col("src").as("node"))
      .distinct()
      .withColumn("component", col("node"))
      .localCheckpoint()
    var changed = true
    var i       = 0
    while (changed && i < maxIter) {
      val nbrMin = edges
        .join(labels, edges("dst") === labels("node"))
        .groupBy(col("src").as("n2"))
        .agg(min("component").as("nbr_component"))
      val updated = labels
        .join(nbrMin, labels("node") === nbrMin("n2"), "left")
        .select(
          col("node"),
          least(col("component"), coalesce(col("nbr_component"), col("component")))
            .as("component"),
        )
        .localCheckpoint()
      changed = updated
        .join(labels.withColumnRenamed("component", "old"), "node")
        .filter(col("component") =!= col("old"))
        .limit(1)
        .count() > 0
      labels = updated
      i += 1
    }
    edges.unpersist()
    // min-label propagation needs ~diameter rounds; a chain longer than
    // maxIter would otherwise return silently split components
    if (changed)
      throw new IllegalStateException(
        s"label propagation did not converge within $maxIter rounds (component diameter too large)")
    labels.select(col("node").as("doc_id"), col("component"))
  }

  /** Left-to-right fold dot product of two float-array columns, in
    * double precision — the composed form native `float_dot` must equal
    * bit for bit. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v,
    )

  /** [[Text.bigramLmScoreFromTables]] with its count tables built
    * from the documents themselves. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withToks = docs
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      // sequence(1, 0) would generate a DESCENDING ramp in Spark —
      // filter the sub-2-token docs before building the ramp
      .filter(size(col("__t")) >= 2)
    val bgs = withToks
      .select(
        col(idCol),
        explode(
          expr("transform(sequence(1, size(__t) - 1), i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1)))")
        ).as("bg"),
      )
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val c2 = bgs.groupBy("bg").agg(count(lit(1)).as("__c2"))
    val c1 = bgs.groupBy("w1").agg(count(lit(1)).as("__c1"))
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

  /** [[Text.trigramBackoffScoreFromTables]] with its train-side count
    * tables built from the documents themselves. */
  def trigramBackoffScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTest: Column,
  ): DataFrame = {
    val withToks = docs.select(col(idCol), isTest.as("__test"), tokens(col(textCol)).as("__t"))
    val train    = withToks.filter(!col("__test"))
    val uni      = train.select(explode(col("__t")).as("w"))
    val c1       = uni.groupBy("w").agg(count(lit(1)).as("__c1"))
    val nTot     = uni.agg(count(lit(1)).as("__n"))
    val c2 = train
      .filter(size(col("__t")) >= 2)
      .select(
        explode(
          expr("transform(sequence(1, size(__t) - 1), i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1)))")
        ).as("bg")
      )
      .groupBy("bg")
      .agg(count(lit(1)).as("__c2"))
    val c3 = train
      .filter(size(col("__t")) >= 3)
      .select(
        explode(
          expr(
            "transform(sequence(1, size(__t) - 2), i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1), ' ', element_at(__t, i + 2)))"
          )
        ).as("tg")
      )
      .groupBy("tg")
      .agg(count(lit(1)).as("__c3"))
    backoffScorePositions(docs, idCol, textCol, isTest, c1, nTot, c2, c3)
  }

  /** [[Text.knContinuationCountsFromTables]] with its bigram types and
    * unigram counts built from the documents themselves. */
  def knContinuationCounts(docs: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val bigrams = docs
      .select(
        explode(
          when(size(toks) < 2, array().cast("array<struct<w1:string,w2:string>>"))
            .otherwise(
              transform(
                sequence(lit(1), size(toks) - 1),
                i => struct(element_at(toks, i).as("w1"), element_at(toks, i + lit(1)).as("w2")),
              )
            )
        ).as("bg")
      )
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val types = bigrams.distinct().localCheckpoint(eager = false) // consumed thrice
    val total = types.agg(count(lit(1)).as("__t"))
    val uni = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("c"))
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

  /** [[Text.freqOfFreqsFromTermCounts]] over the census of any
    * array-of-terms expression. */
  def freqOfFreqs(docs: DataFrame, termsCol: Column, maxR: Int): DataFrame =
    freqOfFreqsFromTermCounts(
      docs.select(explode(termsCol).as("tok")).groupBy("tok").agg(count(lit(1)).as("r")),
      maxR,
    )
}
