package graft.ops

import graft.functions.{MinHashMd5Expr, ShingleSetExpr}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation: the operator suites composed
  * the way a 100 TB data pipeline uses them —
  *
  *   quality filter → language filter → exact dedup → fuzzy dedup
  *
  * Each stage is DataFrame-in/DataFrame-out; the quality and language
  * gates are pure Column predicates (scan-local, pushdown-friendly, run
  * before anything shuffles), exact dedup is one shuffle on the
  * fingerprint, and the fuzzy stage pairs only LSH-colliding documents
  * before clustering and canonical selection. Clustering needs the pair
  * graph's size, so the fuzzy stage runs jobs at construction (see
  * [[prepare]]).
  */
object CorpusPipeline {

  final case class Config(
      minTokens: Int = 10,
      maxTokens: Int = 100000,
      languages: Set[String] = Set("en"),
      shingleN: Int = 3,
      minhashK: Int = 16,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.8,
  )

  /** Returns the cleaned corpus (same schema as `docs`).
    *
    * Not lazy: Spark jobs run when this is CALLED — the checkpoint of
    * the per-document sketch table (gates, exact dedup and sketches in
    * one job) and [[Dedup.clusterPairs]]' bounded pair probe, which
    * executes the LSH self-join and the verify (plus the runtime
    * bloom-filter subqueries Spark plans for those joins). The
    * returned plan reads the checkpoint and anti-joins the
    * non-canonical ids. */
  def prepare(docs: DataFrame, idCol: String, textCol: String, cfg: Config = Config()): DataFrame = {
    // 1. quality gate: token-count bounds (scan-local predicate)
    val nTok    = Text.tokenCount(col(textCol))
    val quality = docs.filter(nTok >= cfg.minTokens && nTok <= cfg.maxTokens)

    // 2. language gate: heuristic marker-word ID
    val inLang = quality.filter(Text.langId(col(textCol)).isin(cfg.languages.toSeq: _*))

    // 3. exact dedup: keep the smallest id (ids are keys) per
    //    normalized fingerprint, as [[Dedup.exactGroups]] groups them.
    //    A window over the fingerprint evaluates the gates above once; a
    //    semi-join against the groups would evaluate them on both sides.
    val byFingerprint = Window.partitionBy(Text.fingerprint(col(textCol)))
    val exactDeduped = inLang
      .withColumn("__keep_id", min(col(idCol)).over(byFingerprint))
      .filter(col(idCol) === col("__keep_id"))
      .drop("__keep_id")

    // 4. fuzzy dedup: MinHash-LSH candidates → verified pairs →
    //    components → canonical member per component. One map-only
    //    pass adds each surviving document's MinHash signature and
    //    distinct shingle set; that table is the only checkpoint and
    //    feeds the banding, the Jaccard verify and the final anti-join.
    //    Eager, so exactly one job computes it: a lazy checkpoint read
    //    by two concurrently running broadcast jobs is computed by both,
    //    and the first to finish truncates the lineage the other is
    //    still running (its tasks then report SQL metrics the driver
    //    has already dropped).
    val sketched = exactDeduped
      .withColumn("__mh", MinHashMd5Expr.minhash_md5(col(textCol), cfg.shingleN, cfg.minhashK))
      .withColumn("__shs", ShingleSetExpr.shingle_set(col(textCol), cfg.shingleN))
      .localCheckpoint()
    val pairs = Dedup
      .minhashLshPairsFromSketches(
        sketched.select(col(idCol).as("doc_id"), col("__mh").as("mh"), col("__shs").as("shs")),
        cfg.minhashK,
        cfg.rowsPerBand,
        cfg.minJaccard,
      )
      .select("a_id", "b_id")
    Dedup.dedupByPairs(sketched.drop("__mh", "__shs"), idCol, pairs)
  }

  /** The embedding near-dup stage that follows [[prepare]] — the order
    * a real LLM corpus pipeline runs: text-level dedup first (cheap
    * signals, removes exact/boilerplate copies), then embedding-cosine
    * near-dup over the survivors (catches semantic duplicates that
    * share few shingles). It pairs only SRP band-collision candidates
    * ([[Similarity.embeddingDupPairs]] — map-only signatures, a join
    * keyed on (band, key), never an all-pairs product), clusters them,
    * and keeps each component's minimum-id member. Survivors without an
    * embedding row pass through untouched (they can never be a
    * candidate), so a partially-embedded corpus degrades to text-only
    * dedup rather than dropping documents.
    *
    * `survivors` is an already-materialized [[prepare]] result:
    * callers that consume both the text-stage output AND the chained
    * result (a pipeline writing intermediate tables, or the gate
    * running both as separate queries) materialize it once and feed it
    * here instead of re-running the text pipeline per consumer. */
  def embeddingStage(
      survivors: DataFrame,
      embeddings: DataFrame,
      idCol: String,
      embIdCol: String,
      embCol: String,
      embTau: Double,
      nPlanes: Int = 0,
      bands: Int = 0,
  ): DataFrame = {
    // The embedding dimension is a property of the embeddings input
    // alone — probe it there (LIMIT 1 on one table) instead of letting
    // the operator infer through the survivors join, which would
    // materialize the whole text pipeline at construction time. An
    // embeddings side with no non-null vector degrades to text-only
    // dedup, as documented: nothing can be an embedding candidate.
    val dim = embeddings
      .filter(col(embCol).isNotNull)
      .select(size(col(embCol)).cast("int").as("n"))
      .head(1)
      .headOption
      .map(_.getInt(0))
    dim match {
      case None => survivors
      case Some(d) =>
        val embedded = survivors
          .join(embeddings, survivors(idCol) === embeddings(embIdCol))
          .select(survivors(idCol), col(embCol))
          .localCheckpoint(eager = false)
        // nPlanes/bands <= 0 (the default): size the banding to the
        // embedded-survivor count ([[Similarity.chooseBanding]]) — the
        // fixed demo config saturates quadratically past a few thousand
        // vectors. Explicit values are honored unchanged.
        val (np, b) =
          if (nPlanes > 0 && bands > 0) (nPlanes, bands)
          else Similarity.chooseBanding(embedded.count())
        val pairs = Similarity
          .embeddingDupPairs(embedded, idCol, embCol, embTau, np, b, dim = d)
          .select("a_id", "b_id")
        Dedup.dedupByPairs(survivors, idCol, pairs)
    }
  }

  /** The final MIXING stage — curation output → training mix: rebalance
    * the survivors' per-stratum shares at temperature α = 1/2
    * ([[Sampling.temperatureSqrt]] — low-resource sources lifted, the
    * mT5/XLM-R recipe, IEEE-exact arithmetic) and assign each kept
    * document its training shard by content hash
    * ([[Sampling.shardAssign]] — `df.write.partitionBy("shard")` then
    * emits the shard files). Both stages are scan-local predicates /
    * projections over the survivor set: the whole mix adds ZERO
    * shuffles beyond the one bounded strata-count probe. */
  def mix(
      survivors: DataFrame,
      idCol: String,
      strataCol: String,
      budget: Long,
      nShards: Int,
  ): DataFrame =
    Sampling.shardAssign(
      Sampling.temperatureSqrt(survivors, idCol, strataCol, budget),
      idCol,
      nShards,
    )
}
