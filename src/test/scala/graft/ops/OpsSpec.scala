package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior tests for the extension operators: as-of join semantics,
  * dedup invariants, native-vs-composed dot product equality, text ops,
  * and the multimodal batch pipeline.
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("as-of join: latest right row at or before, inclusive, per key") {
    val left = Seq(
      (1L, 10L, "l1"),
      (1L, 20L, "l2"),
      (2L, 15L, "l3"),
      (3L, 5L, "l4"), // key with no right rows at all
    ).toDF("k", "t", "lv").withColumn("t", timestamp_millis(col("t") * 1000))
    val right = Seq(
      (1L, 10L, 1.0), // equal ts => inclusive match for l1
      (1L, 18L, 2.0),
      (2L, 99L, 3.0), // after l3 => no match
    ).toDF("k", "t", "rv").withColumn("t", timestamp_millis(col("t") * 1000))

    val got = AsOf
      .joinAtOrBefore(left, right, keys = Seq("k"), ts = "t", payloadCols = Seq("rv"),
        rightTieBreak = "rv", outPrefix = "m_")
      .select("lv", "m_rv")
      .collect()
      .map(r => r.getString(0) -> Option(r.get(1)))
      .toMap
    assert(got("l1") === Some(1.0)) // inclusive at equal ts
    assert(got("l2") === Some(2.0)) // latest earlier click
    assert(got("l3") === None)      // right row is later
    assert(got("l4") === None)      // no right rows for key
  }

  test("forward as-of join: earliest right row at or after, inclusive, ties keep greatest tie-break") {
    val left = Seq(
      (1L, 10L, "l1"),
      (1L, 20L, "l2"),
      (2L, 15L, "l3"), // right row is earlier => no match
      (3L, 5L, "l4"),  // key with no right rows at all
    ).toDF("k", "t", "lv").withColumn("t", timestamp_millis(col("t") * 1000))
    val right = Seq(
      (1L, 10L, 1.0), // equal ts => inclusive match for l1
      (1L, 10L, 9.0), // equal-ts tie => greatest rv wins
      (1L, 25L, 2.0),
      (2L, 3L, 3.0),
    ).toDF("k", "t", "rv").withColumn("t", timestamp_millis(col("t") * 1000))

    val got = AsOf
      .joinAtOrAfter(left, right, keys = Seq("k"), ts = "t", payloadCols = Seq("rv"),
        rightTieBreak = "rv", outPrefix = "m_")
      .select("lv", "m_rv")
      .collect()
      .map(r => r.getString(0) -> Option(r.get(1)))
      .toMap
    assert(got("l1") === Some(9.0)) // inclusive at equal ts, tie to greatest
    assert(got("l2") === Some(2.0)) // earliest later row
    assert(got("l3") === None)      // right row precedes the left row
    assert(got("l4") === None)      // no right rows for key
  }

  test("exact dedup groups duplicates and keeps smallest id") {
    val docs = Seq((1L, "hello world"), (2L, "hello  world"), (3L, "unique")).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    // whitespace-normalized fingerprint merges 1 and 2
    val byKeep = groups.map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
    assert(byKeep === Map(1L -> 2L, 3L -> 1L))
  }

  test("minhash LSH finds a planted near-duplicate and skips unrelated docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup
      .minhashLshPairsFromSigs(
        Dedup.minhashSignaturesNative(docs, "doc_id", "text", n = 3, k = 16),
        Dedup.shingleSets(docs, "doc_id", "text", 3),
        rowsPerBand = 4,
        minJaccard = 0.5,
      )
      .collect()
    assert(pairs.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet === Set((1L, 2L)))
    assert(pairs.head.getAs[Double]("jaccard") > 0.8)
  }

  test("prefix join collapses the quadratic term on a skewed corpus (and stays exact)") {
    // Boilerplate-heavy corpus: every doc opens with the same 15-token
    // preamble (shingle df = nDocs — the hot keys that make the naive
    // self-join quadratic), then a unique tail. Docs 0 and 1 share
    // their tail too (the planted near-dup).
    val nDocs    = 120
    val preamble = (1 to 15).map(i => s"common$i").mkString(" ")
    val docs = (0 until nDocs).map { d =>
      val tail =
        if (d <= 1) (1 to 15).map(i => s"dup$i").mkString(" ")
        else (1 to 15).map(i => s"u${d}_$i").mkString(" ")
      (d.toLong, s"$preamble $tail")
    }.toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3).persist()

    val naive  = Dedup.jaccardPairs(sh, 0.5)
    val prefix = Dedup.jaccardPairsPrefix(sh, 0.5)
    assert(prefix.exceptAll(naive).isEmpty && naive.exceptAll(prefix).isEmpty)
    assert(naive.count() === 1) // only the planted pair clears tau=0.5

    // the measurement: naive join output is quadratic in the hot
    // shingles' document frequency; the rarest-first prefix join never
    // touches them
    val naiveJoinRows = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .count()
    val docFreq = sh.groupBy("sh").agg(count(lit(1)).as("__df"))
    val prefixCands = Dedup.prefixCandidates(sh, docFreq, 0.5).count()
    sh.unpersist()
    assert(
      prefixCands * 50 < naiveJoinRows,
      s"prefix candidates $prefixCands not << naive join rows $naiveJoinRows",
    )
  }

  test("jaccardPairsAuto picks naive on flat df, prefix on skewed df, same results") {
    // flat distribution: real sf0.001 documents (probe ~2-3)
    val flat = Dedup.shingleSets(
      graft.Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text", 3).persist()
    assert(Dedup.dfSkewProbeFromFreq(Dedup.docFreq(flat)) < 8.0) // flat regime -> naive branch
    val auto1 = Dedup.jaccardPairsAuto(flat, 0.5)
    val naive = Dedup.jaccardPairs(flat, 0.5)
    assert(auto1.exceptAll(naive).isEmpty && naive.exceptAll(auto1).isEmpty)
    flat.unpersist()

    // boilerplate-heavy corpus (probe 20+): still the same pairs
    val preamble = (1 to 15).map(i => s"common$i").mkString(" ")
    val docs = (0 until 60).map { d =>
      val tail =
        if (d <= 1) (1 to 15).map(i => s"dup$i").mkString(" ")
        else (1 to 15).map(i => s"u${d}_$i").mkString(" ")
      (d.toLong, s"$preamble $tail")
    }.toDF("doc_id", "text")
    val skewed = Dedup.shingleSets(docs, "doc_id", "text", 3).persist()
    assert(Dedup.dfSkewProbeFromFreq(Dedup.docFreq(skewed)) >= 8.0) // boilerplate regime -> prefix branch
    val auto2  = Dedup.jaccardPairsAuto(skewed, 0.5)
    val naive2 = Dedup.jaccardPairs(skewed, 0.5)
    assert(auto2.exceptAll(naive2).isEmpty && naive2.exceptAll(auto2).isEmpty)
    assert(naive2.count() === 1)
    skewed.unpersist()
  }

  test("xxhash64 simhash: identical docs pair at distance 0 over the full 64-bit band") {
    val base  = (1 to 60).map(i => s"tok$i").mkString(" ")
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    // identical docs at distance 0, unrelated docs not paired at a
    // tight threshold; the full-width single band is exercised
    val docs  = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    val sigs  = Dedup.simhash64Xx(Dedup.shingleSets(docs, "doc_id", "text", 3))
    val pairs = Dedup.simhashPairs(sigs, maxHamming = 0, bits = 64).collect()
    assert(pairs.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Int]("hamming")))
      .toSet === Set((1L, 2L, 0)))
  }

  test("embedding near-dup pairs: exact on planted dups at tau=0.9, candidates pruned") {
    import graft.ops.Similarity
    // 40 near-orthogonal base vectors + 10 noisy copies (cos >= ~0.95
    // vs their source). Deterministic seed => fixed outcome.
    val rnd = new scala.util.Random(7)
    val dim = 32
    val base = (0 until 40).map(id => id.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val copies = (0 until 10).map { i =>
      val src = base(i)._2
      (100L + i) -> src.map(v => v + (rnd.nextGaussian() * 0.05f).toFloat)
    }
    val vecs = base ++ copies
    val df   = vecs.toDF("vec_id", "embedding")

    // local ground truth with the same left-to-right double fold
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val truth = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      c = cos(va, vb) if c >= 0.9
    } yield (ia, ib) -> c).toMap
    assert(truth.size === 10) // every planted copy pairs with its source, nothing else

    val got = Similarity
      .embeddingDupPairs(df, "vec_id", "embedding", tau = 0.9, dim = dim)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) -> r.getAs[Double]("cos"))
      .toMap
    assert(got.keySet === truth.keySet)
    got.foreach { case (k, c) => assert(math.abs(c - truth(k)) < 1e-12) }

    // IVF-cell-keyed variant: emits only true pairs, and a noisy copy
    // lands in (or probes into) its source's cell, so the planted set
    // is fully recovered here too
    val ivf = Similarity
      .embeddingDupPairsIvf(df, "vec_id", "embedding", tau = 0.9,
        centroids = Similarity.ivfCentroids(df, "vec_id", "embedding", 8), nprobe = 2)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    assert(ivf.subsetOf(truth.keySet), "IVF variant emitted a below-threshold pair")
    assert(ivf === truth.keySet, s"IVF variant recall: ${ivf.size}/${truth.size}")

    // the banded join prunes: collision candidates well under all-pairs
    val keys =
      Similarity.srpBandKeys(df, "vec_id", "embedding", nPlanes = 72, bands = 12, dim = dim)
    val cand = keys
      .select(col("vec_id").as("a_id"), col("band"), col("key"))
      .join(keys.select(col("vec_id").as("b_id"), col("band"), col("key")), Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
      .count()
    val allPairs = vecs.size.toLong * (vecs.size - 1) / 2
    assert(cand < allPairs / 2, s"candidates $cand vs all-pairs $allPairs")
  }

  test("multi-probe SRP: superset of exact-band pairs, only true pairs, better recall") {
    import graft.ops.Similarity
    // moderate-similarity pairs (cos ≈ 0.55): the regime where exact
    // band equality misses and Hamming-1 probing recovers
    val rnd = new scala.util.Random(13)
    val dim = 32
    val base = (0 until 30).map(id => id.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val copies = (0 until 20).map { i =>
      val src = base(i)._2
      (100L + i) -> src.map(v => v + (rnd.nextGaussian() * 1.1f).toFloat)
    }
    val vecs = base ++ copies
    val df   = vecs.toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val truth = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      c = cos(va, vb) if c >= 0.4
    } yield (ia, ib)).toSet
    assert(truth.size >= 10) // enough moderate pairs for the comparison to mean something

    def pairsWith(probes: Int) = Similarity
      .embeddingDupPairs(df, "vec_id", "embedding", tau = 0.4,
        nPlanes = 24, bands = 4, dim = dim, probes = probes)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    val exact = pairsWith(0)
    val multi = pairsWith(1)
    assert(exact.subsetOf(multi), "multi-probe lost an exact-band pair")
    assert(multi.subsetOf(truth), "multi-probe emitted a below-threshold pair")
    assert(multi.size > exact.size,
      s"multi-probe found nothing new (exact ${exact.size}, multi ${multi.size})")
  }

  test("embedding banding ladder: r grows with N, rung 1 equals the fixed config, recall holds") {
    import graft.ops.Similarity
    // the ladder itself: bits per band (nPlanes/bands) must be
    // non-decreasing in N — the random-collision floor bands·N²/2^r
    // stays ∝ N only if r grows with log2 N
    val rungs = Seq(1000L, 4000L, 4001L, 100000L, 100001L, 4000000L, 4000001L)
      .map(Similarity.chooseBanding)
    rungs.foreach { case (np, b) => assert(np % b === 0) }
    val rs = rungs.map { case (np, b) => np / b }
    assert(rs === Seq(6, 6, 12, 12, 18, 18, 24))

    // auto == fixed at gate scale (rung 1 IS 72/12)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val auto = Similarity.embeddingDupPairsAuto(emb, "vec_id", "embedding", tau = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed = Similarity
      .embeddingDupPairs(emb, "vec_id", "embedding", tau = 0.45, nPlanes = 72, bands = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === fixed)

    // a larger rung (r = 12) still recovers planted near-dups: the
    // per-band hit rate drops but 8 bands compensate at high cosine
    val rnd = new scala.util.Random(99)
    val dim = 64
    val base = (0 until 40).map(id => id.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val copies = (0 until 25).map { i =>
      val src = base(i)._2
      (500L + i) -> src.map(v => v + (rnd.nextGaussian() * 0.05f).toFloat)
    }
    val df = (base ++ copies).toDF("vec_id", "embedding")
    val found = Similarity
      .embeddingDupPairs(df, "vec_id", "embedding", tau = 0.9, nPlanes = 96, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 25).forall(i => found.contains((i.toLong, 500L + i))),
      s"r=12 banding lost a planted pair: ${found.size}/25")
  }

  test("SRP dim: inferred by default, explicit mismatch fails fast") {
    import graft.ops.Similarity
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")

    // inference (dim <= 0, the default) produces the same signatures as
    // the correct explicit dim — the oracle-checked path is unchanged
    val inferred = Similarity.srpBandKeys(emb, "vec_id", "embedding", 72, 12).collect().toSet
    val explicit = Similarity.srpBandKeys(emb, "vec_id", "embedding", 72, 12, dim = 64)
      .collect().toSet
    assert(inferred === explicit && inferred.nonEmpty)

    // an undersized (or oversized) dim used to silently project a
    // prefix; now it must throw at operator build
    val ex = intercept[IllegalArgumentException] {
      Similarity.srpBandKeys(emb, "vec_id", "embedding", 72, 12, dim = 32)
    }
    assert(ex.getMessage.contains("dim=32") && ex.getMessage.contains("64"))
    intercept[IllegalArgumentException] {
      Similarity.srpBuckets(emb, "vec_id", "embedding", nPlanes = 16, dim = 100)
    }
    intercept[IllegalArgumentException] {
      Similarity.embeddingDupPairs(emb, "vec_id", "embedding", tau = 0.9, dim = 16)
    }

    // empty input: explicit dim passes through, inference throws
    val empty = emb.filter(col("vec_id") < 0)
    assert(Similarity.srpBuckets(empty, "vec_id", "embedding", 16, dim = 64).count() === 0)
    intercept[IllegalArgumentException] {
      Similarity.srpBuckets(empty, "vec_id", "embedding", 16)
    }
  }

  test("IVF top-k: recall vs brute force, and Lloyd refinement is deterministic") {
    import graft.ops.Similarity
    val emb  = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") < 20
    val exact = Similarity
      .bruteForceTopK(emb.filter(pred), emb, "vec_id", "embedding", k = 3)
      .select("q_id", "n_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    val approx = Similarity
      .ivfTopK(emb, "vec_id", "embedding", k = 3, cents, nprobe = 2, pred)
      .select("q_id", "n_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // Fixed data + deterministic index => recall is a constant; assert a
    // floor that a sane cell structure must clear (observed well above).
    assert(recall >= 0.5, s"IVF recall@3 = $recall")

    // Lloyd refinement: order-independent decimal means => re-running
    // produces the identical codebook; cells stay <= 8.
    val r1 = Similarity.ivfRefine(emb, cents, "vec_id", "embedding", iters = 2)
    val r2 = Similarity.ivfRefine(emb, cents, "vec_id", "embedding", iters = 2)
    assert(r1.count() <= 8 && r1.count() > 0)
    assert(r1.exceptAll(r2).isEmpty && r2.exceptAll(r1).isEmpty)
    // Refined codebook still drives the ANN search end to end.
    val refined = Similarity.ivfTopK(emb, "vec_id", "embedding", 3, r1, 2, pred)
    assert(refined.count() > 0)
  }

  test("IVF recall is monotone in nprobe and exact at nprobe = C") {
    import graft.ops.Similarity
    val emb  = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") < 20
    val exact = Similarity
      .bruteForceTopK(emb.filter(pred), emb, "vec_id", "embedding", k = 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    val recalls = Seq(1, 2, 8).map { nprobe =>
      val approx = Similarity
        .ivfTopK(emb, "vec_id", "embedding", 3, cents, nprobe, pred)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      nprobe -> (exact & approx).size.toDouble / exact.size
    }
    assert(recalls.map(_._2) === recalls.map(_._2).sorted, s"recall not monotone: $recalls")
    // probing every cell searches every candidate: identical to brute force
    assert(recalls.last._2 === 1.0, s"nprobe=C not exact: $recalls")
  }

  test("prefix-filtered Jaccard join equals the naive self-join form") {
    // Real-data check on the sf0.001 documents table, at two thresholds
    // and with a doc-frequency cap: the AllPairs-style prefix join must
    // reproduce the naive join's pairs and scores exactly.
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val sh   = Dedup.shingleSets(docs, "doc_id", "text", 3).persist()
    for (tau <- Seq(0.3, 0.5); cap <- Seq(None, Some(20L))) {
      val naive  = Dedup.jaccardPairs(sh, tau, cap)
      val prefix = Dedup.jaccardPairsPrefix(sh, tau, cap)
      assert(
        prefix.exceptAll(naive).isEmpty && naive.exceptAll(prefix).isEmpty,
        s"mismatch at tau=$tau cap=$cap",
      )
      assert(naive.count() > 0, s"degenerate test at tau=$tau cap=$cap")
    }
    sh.unpersist()
  }

  test("simhash: identical docs distance 0; banded pairs == all-pairs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, (100 to 160).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sigs = docs.select(
      col("doc_id"), graft.functions.SimHash64Md5Expr.simhash32(col("text")).as("simhash"))
    val pairs = Dedup.simhashPairs(sigs, maxHamming = 4).collect()
    assert(pairs.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Int]("hamming"))).toSet
      === Set((1L, 2L, 0)))
  }

  test("simhash64Md5: low 32 bits equal simhash32; twin pairing finds the planted dup") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, (100 to 160).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val sigs64 = docs.select(
      col("doc_id"), graft.functions.SimHash64Md5Expr.simhash64_md5(col("text")).as("simhash"))
    // bits 0..31 of the 64-bit md5 twin are BY CONSTRUCTION the same
    // nibble-top-bit hash simhash32 uses — the twin is a strict widening
    val s32 = Reference.simhash32(sh).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val s64 = sigs64.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(s64.keySet === s32.keySet)
    for ((id, v) <- s64) assert((v & 0xffffffffL) === s32(id), s"doc $id low-32 mismatch")
    // and the 64-bit banded pairing over the twin behaves like the prod path
    val pairs = Dedup.simhashPairs(sigs64, maxHamming = 4, bits = 64).collect()
    assert(pairs.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Int]("hamming")))
      .toSet === Set((1L, 2L, 0)))
  }

  test("clusterPairs: min-label propagation finds components; dedupByPairs keeps canonicals") {
    // components: {1,2,3,7} (chain with a long path), {4,5}; 6 isolated
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 7L), (4L, 5L)).toDF("a_id", "b_id")
    val comps = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 4L -> 4L, 5L -> 4L))

    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val kept = Dedup.dedupByPairs(docs, "doc_id", pairs).collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 4L, 6L)) // canonical members + isolated doc
  }

  test("zorderBy: per-file spans bounded in EVERY dimension; single-column sort leaves dim 2 unclustered") {
    import graft.ops.Layout
    // two pseudo-uniform independent 10-bit dimensions
    val df = (0 until 4096)
      .map(i => (i.toLong, i * 2654435761L % 1024, i * 40503L % 1024))
      .toDF("id", "a", "b")
    def spans(d: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val rows = d.withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
        .collect()
      (rows.map(_.getAs[Long]("sa")).sum.toDouble / rows.length,
        rows.map(_.getAs[Long]("sb")).sum.toDouble / rows.length)
    }
    // range-partition by the curve key into 16 files, sorted within each
    def layout(key: org.apache.spark.sql.Column) =
      df.withColumn("__key", key).repartitionByRange(16, col("__key")).sortWithinPartitions("__key")
    val (za, zb) = spans(layout(Layout.zorderKey(Seq(col("a"), col("b")), 10)))
    // 16 curve segments fix the top 2 bits of BOTH dims: span <= ~256 each
    assert(za < 512 && zb < 512, s"z-order spans not bounded: a=$za b=$zb")
    // Hilbert segments are contiguous curve walks: bounded in both
    // dims too, and never WORSE than Z-order's total envelope (the
    // locality claim — no cross-grid jumps at power-of-two boundaries)
    val (ha, hb) = spans(layout(Layout.hilbertKey(col("a"), col("b"), 10)))
    assert(ha < 512 && hb < 512, s"hilbert spans not bounded: a=$ha b=$hb")
    assert(ha + hb <= (za + zb) * 1.05,
      s"hilbert total envelope must not exceed z-order's: h=${ha + hb} z=${za + zb}")
    val (sa, sb) = spans(df.repartitionByRange(16, col("a")).sortWithinPartitions("a"))
    assert(sa < 128, s"sort-by-a must cluster a tightly, got $sa")
    assert(sb > 768, s"independent dim under single-col sort should span ~full domain, got $sb")
    // the key itself is a pure bit-shuffle: spot-check against hand computation
    val k = df.select(Layout.zorderKey(Seq(col("a"), col("b")), 10).as("z"), col("a"), col("b"))
      .collect()
    k.foreach { r =>
      val (a, b, z) = (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("z"))
      val expect = (0 until 10).map(i => (((a >> i) & 1) << (2 * i)) | (((b >> i) & 1) << (2 * i + 1))).sum
      assert(z === expect, s"a=$a b=$b")
    }
  }

  test("compactionBins: greedy packing fills bins to target, oversized files isolate") {
    import graft.ops.Layout
    // partition p: sizes 90,60,40,30,20 target 100 in DESC order →
    // cum-before 0,90,150,190,220 → bins 0,0,1,1,2
    val files = Seq(
      ("p", 1L, 90L), ("p", 2L, 60L), ("p", 3L, 40L), ("p", 4L, 30L), ("p", 5L, 20L),
      ("q", 6L, 500L), ("q", 7L, 10L), // oversized file takes bins 0..4; next starts at 5
    ).toDF("part", "fid", "bytes")
    val out = Layout
      .compactionBins(files, "part", "fid", "bytes", 100L)
      .collect()
      .map(r => (r.getAs[String]("part"), r.getAs[Long]("fid")) -> r.getAs[Long]("bin"))
      .toMap
    assert(out(("p", 1L)) === 0L && out(("p", 2L)) === 0L)
    assert(out(("p", 3L)) === 1L && out(("p", 4L)) === 1L)
    assert(out(("p", 5L)) === 2L)
    assert(out(("q", 6L)) === 0L && out(("q", 7L)) === 5L)
    // invariant: every bin except a partition's last is filled past
    // target once its successor starts (no premature bin break)
  }

  test("rangeSplitPoints: ascending sketch splits partition a skewed key near-evenly") {
    import graft.ops.Layout
    // a skewed (quadratic) key — uniform splits of the VALUE range
    // would put ~71% of rows in the first of 4 files; quantile splits
    // must still cut at ~25/50/75% of ROWS
    val df = spark.range(0, 40000).select((col("id") * col("id")).as("v"))
    val splits = Layout
      .rangeSplitPoints(df, col("v"), n = 4)
      .orderBy("split_idx")
      .collect()
      .map(r => r.getAs[Long]("split_idx") -> r.getAs[Double]("split_value"))
    assert(splits.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(splits.map(_._2).toSeq === splits.map(_._2).sorted.toSeq)
    splits.foreach { case (i, sv) =>
      // exact rank of the split value (v = id², so rank = ⌈√sv⌉)
      val frac = math.ceil(math.sqrt(sv)) / 40000.0
      assert(
        math.abs(frac - i / 4.0) < 0.03,
        s"split $i at $sv covers ${frac * 100}%% of rows, want ${i * 25}%%",
      )
    }
  }

  test("sketchQuantileBins: buckets are 0..n-1, near-equal mass, and monotone in the key") {
    import graft.ops.Layout
    val df = spark.range(0, 20000).select(((col("id") * 48271) % 99991).cast("long").as("v"))
    val binned = Layout.sketchQuantileBins(df, col("v"), n = 4)
    val counts = binned.groupBy("bucket").count().collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("count")).toMap
    assert(counts.keySet === Set(0L, 1L, 2L, 3L))
    counts.values.foreach(c => assert(math.abs(c - 5000L) < 600L, s"counts $counts"))
    // monotone: a bucket's max value never exceeds the next bucket's min
    val spans = binned.groupBy("bucket")
      .agg(min("v").as("lo"), max("v").as("hi"))
      .orderBy("bucket").collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
    spans.sliding(2).foreach { case Array((_, hi0), (lo1, _)) => assert(hi0 < lo1) }
  }

  test("quantileThresholds: nearest-rank thresholds from the histogram, ties respected") {
    import graft.ops.Stats
    // uniform 1..100 → p01 rank ⌈100·0.01⌉=1 → lo=1; p99 rank 99 → hi=99
    val uniform = (1L to 100L).toDF("v")
    val t1 = Stats.quantileThresholds(uniform, "v", 10000L, 990000L).head()
    assert(t1.getAs[Long]("__lo") === 1L && t1.getAs[Long]("__hi") === 99L)
    // heavy ties: 98×1, one 50, one 100 → p99 rank 99 lands on 50
    val skew = (Seq.fill(98)(1L) ++ Seq(50L, 100L)).toDF("v")
    val t2 = Stats.quantileThresholds(skew, "v", 10000L, 990000L).head()
    assert(t2.getAs[Long]("__lo") === 1L && t2.getAs[Long]("__hi") === 50L)
  }

  test("madOutliers: median/MAD fence flags the extreme, ignores it when fencing") {
    import graft.ops.Stats
    // n=10: nine evenly spaced values + one wild extreme. Median (rank
    // ⌈10/2⌉=5) = 18; deviations 0,2,2,4,4,6,6,8,8,982 → MAD (rank 5) = 4.
    // The extreme CANNOT drag the fence (that is the point of MAD —
    // a mean/σ fence moves with it); with k=3×10⁶ only dev > 12 flags.
    val vs = Seq(10L, 12L, 14L, 16L, 18L, 20L, 22L, 24L, 26L, 1000L)
    val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, Some(v)) }.toDF("id", "v")
      .unionByName(Seq((99L, Option.empty[Long])).toDF("id", "v"))
    val out = Stats.madOutliers(df, "v", 3000000L).collect()
      .map(r => r.getAs[Long]("id") ->
        (Option(r.get(r.fieldIndex("dev"))), Option(r.get(r.fieldIndex("is_outlier"))))).toMap
    assert(out(9L) === ((Some(982L), Some(true))), "the extreme must flag")
    assert((0L to 8L).forall(i => out(i)._2 === Some(false)), "the body must not flag")
    assert(out(4L)._1 === Some(0L), "median's own deviation is 0")
    assert(out(99L) === ((None, None)), "null value keeps null dev and flag")
    // k=0: anything off the median flags (strict >), the median itself never does
    val all = Stats.madOutliers(df, "v", 0L).filter(col("is_outlier")).count()
    assert(all === 9L)
  }

  test("quantileNormalize equals floored percent_rank, without the global sort") {
    import graft.ops.Stats
    import org.apache.spark.sql.expressions.Window
    val df = (Seq.fill(3)(5L) ++ Seq(1L, 2L, 9L, 9L, 42L)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val viaHist = Stats
      .quantileNormalize(df, "v")
      .select(col("id"), col("pr_ppm"))
    val viaWindow = df.select(
      col("id"),
      expr("CAST(floor(percent_rank() OVER (ORDER BY v) * 1000000) AS BIGINT)").as("pr_ppm"),
    )
    assert(viaHist.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaHist).isEmpty)
    // single-row input: defined as 0, not a division error
    val one = Stats.quantileNormalize(Seq((1L, 7L)).toDF("id", "v"), "v").head()
    assert(one.getAs[Long]("pr_ppm") === 0L)
  }

  test("quantileNormalizeBy equals per-segment floored percent_rank; null segment is a segment") {
    import graft.ops.Stats
    val df = Seq(
      ("a", 5L), ("a", 5L), ("a", 1L), ("a", 9L),
      ("b", 2L), ("b", 7L), ("b", 7L),
      (null.asInstanceOf[String], 3L), (null.asInstanceOf[String], 8L),
    ).zipWithIndex.map { case ((sg, v), i) => (i.toLong, sg, v) }.toDF("id", "seg", "v")
    val viaHist = Stats.quantileNormalizeBy(df, "seg", "v").select("id", "pr_ppm")
    val viaWindow = df.select(
      col("id"),
      expr("CAST(floor(percent_rank() OVER (PARTITION BY seg ORDER BY v) * 1000000) AS BIGINT)")
        .as("pr_ppm"),
    )
    assert(viaHist.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaHist).isEmpty)
    // the null segment ranked within itself (3 → 0, 8 → 10⁶), not dropped
    val nulls = Stats.quantileNormalizeBy(df, "seg", "v")
      .filter(col("seg").isNull).collect()
      .map(r => r.getAs[Long]("v") -> r.getAs[Long]("pr_ppm")).toMap
    assert(nulls === Map(3L -> 0L, 8L -> 1000000L))
    // a null VALUE survives with a null rank
    val withNullV = df.unionByName(Seq((99L, "a", Option.empty[Long])).toDF("id", "seg", "v"))
    val nv = Stats.quantileNormalizeBy(withNullV, "seg", "v")
      .filter(col("id") === 99L).head()
    assert(nv.isNullAt(nv.fieldIndex("pr_ppm")))
  }

  test("Stats null handling: nulls survive with null rank / null clamp, stay out of quantiles") {
    import graft.ops.Stats
    val df = Seq(Some(1L), Some(2L), Some(3L), Some(100L), None)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    // quantileNormalize: null row survives with null rank; non-null
    // ranks computed over the 4-value non-null domain
    val qn = Stats.quantileNormalize(df, "v").collect()
      .map(r => r.getAs[Long]("id") -> Option(r.get(r.fieldIndex("pr_ppm")))).toMap
    assert(qn.size === 5 && qn(4L).isEmpty)
    assert(qn(0L) === Some(0L) && qn(3L) === Some(1000000L))
  }

  test("equiDepthHistogram: balanced buckets, ties never split, bounds contiguous") {
    import graft.ops.Stats
    val df = (1L to 1000L).toDF("v")
    val h = Stats.equiDepthHistogram(df, "v", 8).orderBy("bucket").collect()
    assert(h.length === 8)
    assert(h.forall(_.getAs[Long]("cnt") === 125L)) // uniform → exactly n/k
    // contiguous, ordered, non-overlapping bounds
    h.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("hi") < b.getAs[Long]("lo"))
    }
    // a value with half the mass occupies ONE bucket (ties never split)
    val skew = (Seq.fill(500)(7L) ++ (1L to 500L)).toDF("v")
    val hs = Stats.equiDepthHistogram(skew, "v", 4).collect()
    val sevens = hs.filter(r => r.getAs[Long]("lo") <= 7L && 7L <= r.getAs[Long]("hi"))
    assert(sevens.length === 1, s"value 7 spans ${sevens.length} buckets")
    assert(hs.map(_.getAs[Long]("cnt")).sum === 1000L)
  }

  test("distributionDrift: zero on self, total on empty, out-of-range lands in edge buckets") {
    import graft.ops.Stats
    val ref = (1L to 800L).toDF("v")
    // identical distribution → TV = 0, counts scale 1:1 per bucket
    val same = Stats.distributionDrift(ref, ref, "v", 8).orderBy("bucket").collect()
    assert(same.length === 8)
    assert(same.forall(_.getAs[Long]("tv_ppm") === 0L))
    assert(same.forall(r => r.getAs[Long]("ref_cnt") === r.getAs[Long]("cur_cnt")))
    // empty current batch → total drift by definition
    val empty = Stats.distributionDrift(ref, ref.filter(col("v") < 0), "v", 8).collect()
    assert(empty.forall(_.getAs[Long]("tv_ppm") === 1000000L))
    assert(empty.map(_.getAs[Long]("cur_cnt")).sum === 0L)
    // all current mass below range → bucket 0 (edge 0 catches it);
    // all above → bucket k−1; both are maximal concentration:
    // TV = ½(|1−1/k| + (k−1)·1/k) ppm = (k−1)/k · 10⁶ = 875000
    val below = Stats.distributionDrift(ref, (-100L to -1L).toDF("v"), "v", 8)
      .orderBy("bucket").collect()
    assert(below.head.getAs[Long]("cur_cnt") === 100L)
    assert(below.map(_.getAs[Long]("tv_ppm")).head === 875000L)
    val above = Stats.distributionDrift(ref, (900L to 999L).toDF("v"), "v", 8)
      .orderBy("bucket").collect()
    assert(above.last.getAs[Long]("cur_cnt") === 100L)
    // nulls in the current batch are excluded from the histogram
    val withNull = Seq(Some(1L), None, Some(2L)).toDF("v")
    val nn = Stats.distributionDrift(ref, withNull, "v", 8).collect()
    assert(nn.map(_.getAs[Long]("cur_cnt")).sum === 2L)
    // scalar bucketOfExpr (streaming form) ≡ the min-edge join: 1..800
    // in 8 buckets has upper edges 100,200,…,800
    val edges = Stats.equiDepthHistogram(ref, "v", 8).orderBy("hi").collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("hi"))).toSeq
    assert(edges.map(_._2) === Seq(100L, 200L, 300L, 400L, 500L, 600L, 700L, 800L))
    val probes = Seq(-5L -> 0L, 1L -> 0L, 100L -> 0L, 101L -> 1L, 800L -> 7L, 5000L -> 7L)
    val got = probes.map(_._1).toDF("v")
      .select(col("v"), Stats.bucketOfExpr(col("v"), edges, 7L).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probes.foreach { case (v, b) => assert(got(v) === b, s"bucketOf($v)") }
  }

  test("corrSufficientStats: hand-checked sums and cross-products in one pass") {
    import graft.ops.Stats
    val df = Seq((1L, 10L), (2L, 20L), (3L, 40L)).toDF("x", "y")
    val r = Stats
      .corrSufficientStats(df, Seq("x" -> col("x"), "y" -> col("y")))
      .head()
    assert(r.getAs[Long]("n") === 3L)
    assert(r.getAs[Long]("sum_x") === 6L && r.getAs[Long]("sum_y") === 70L)
    assert(r.getAs[Long]("sum_x_x") === 14L && r.getAs[Long]("sum_y_y") === 2100L)
    assert(r.getAs[Long]("sum_x_y") === 1L * 10 + 2 * 20 + 3 * 40)
  }

  test("driftBySegment: per-segment TV vs the corpus reference, null segment preserved") {
    import graft.ops.Stats
    // a = lower half, b = upper half of a uniform corpus: each segment
    // concentrates on 4 of 8 buckets → TV = ½(4·(¼−⅛) + 4·⅛) = ½
    val df = ((1L to 400L).map(("a", _)) ++ (401L to 800L).map(("b", _))).toDF("seg", "v")
    val rows = Stats.driftBySegment(df, "seg", "v", 8).collect()
    assert(rows.length === 16)
    assert(rows.forall(_.getAs[Long]("tv_ppm") === 500000L))
    val aCur = rows.filter(_.getAs[String]("seg") == "a")
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("cur_cnt")).toMap
    assert((0L to 3L).forall(aCur(_) === 100L) && (4L to 7L).forall(aCur(_) === 0L))
    // a null segment keeps its counts (null-safe grid join), it is not
    // misreported as empty/total-drift
    val withNull = df.unionByName(
      (1L to 80L).map((null.asInstanceOf[String], _)).toDF("seg", "v"))
    val nullRows = Stats.driftBySegment(withNull, "seg", "v", 8)
      .collect().filter(_.isNullAt(0))
    assert(nullRows.length === 8)
    assert(nullRows.map(_.getAs[Long]("cur_cnt")).sum === 80L)
    assert(nullRows.head.getAs[Long]("tv_ppm") < 1000000L)
  }

  test("corrPairwiseStats: each pair aggregates its own complete-row set") {
    import graft.ops.Stats
    // x missing on row 2, y missing on row 3, z complete:
    // (x,y) sees rows 1,4; (x,z) sees 1,3,4; (y,z) sees 1,2,4
    val df = Seq(
      (Some(1L), Some(10L), Some(100L)),
      (None, Some(20L), Some(200L)),
      (Some(3L), None, Some(300L)),
      (Some(4L), Some(40L), Some(400L)),
    ).toDF("x", "y", "z")
    val rows = Stats
      .corrPairwiseStats(df, Seq("x" -> col("x"), "y" -> col("y"), "z" -> col("z")))
      .collect()
      .map(r => (r.getAs[String]("x"), r.getAs[String]("y")) -> r)
      .toMap
    assert(rows.size === 3)
    val xy = rows(("x", "y"))
    assert(xy.getAs[Long]("n") === 2L && xy.getAs[Long]("sum_x") === 5L
      && xy.getAs[Long]("sum_y") === 50L && xy.getAs[Long]("sum_x_y") === 1L * 10 + 4 * 40)
    val xz = rows(("x", "z"))
    assert(xz.getAs[Long]("n") === 3L && xz.getAs[Long]("sum_x") === 8L
      && xz.getAs[Long]("sum_y") === 800L)
    val yz = rows(("y", "z"))
    assert(yz.getAs[Long]("n") === 3L && yz.getAs[Long]("sum_x") === 70L
      && yz.getAs[Long]("sum_x_x") === 100L + 400 + 1600)
    // a pair with NO complete rows: n = 0, sums null
    val disjoint = Seq((Some(1L), Option.empty[Long]), (None, Some(2L))).toDF("x", "y")
    val d0 = Stats.corrPairwiseStats(disjoint, Seq("x" -> col("x"), "y" -> col("y"))).head()
    assert(d0.getAs[Long]("n") === 0L && d0.isNullAt(d0.fieldIndex("sum_x")))
  }

  test("scd2Merge: changed rows version, missing keys stay open, null transitions tracked") {
    import graft.ops.Scd
    def date(s: String) = java.sql.Date.valueOf(s)
    val init = Scd.scd2Init(
      Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String])).toDF("k", "v"),
      Seq("k"), Seq("v"), to_date(lit("2020-01-01")))
    // 1 changes, 2 missing from batch, 3 null->c, 4 brand-new with null value
    val b1 = Seq((1L, "a2"), (3L, "c"), (4L, null.asInstanceOf[String])).toDF("k", "v")
    val m1 = Scd.scd2Merge(init, b1, Seq("k"), Seq("v"), to_date(lit("2020-02-01")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[Long]("k"), Option(r.getAs[String]("v")),
        r.getAs[java.sql.Date]("valid_from").toString,
        Option(r.getAs[java.sql.Date]("valid_to")).map(_.toString),
        r.getAs[Boolean]("is_current"))
    }.toSet
    assert(rows(m1) === Set(
      (1L, Some("a"), "2020-01-01", Some("2020-02-01"), false),
      (1L, Some("a2"), "2020-02-01", None, true),
      (2L, Some("b"), "2020-01-01", None, true), // missing from batch: untouched, stays open
      (3L, None, "2020-01-01", Some("2020-02-01"), false), // null -> value versions
      (3L, Some("c"), "2020-02-01", None, true),
      (4L, None, "2020-02-01", None, true), // new key, null tracked value
    ))
    // chained second merge: value -> value on 3, null -> value on 4
    val b2 = Seq((3L, "c"), (4L, "x")).toDF("k", "v") // 3 unchanged this time
    val m2 = Scd.scd2Merge(m1, b2, Seq("k"), Seq("v"), to_date(lit("2020-03-01")))
    assert(rows(m2) === rows(m1) - ((4L, None, "2020-02-01", None, true)) ++ Set(
      (4L, None, "2020-02-01", Some("2020-03-01"), false),
      (4L, Some("x"), "2020-03-01", None, true),
    ))
    // hard-delete mode: a current key absent from the full snapshot
    // closes with no successor (keys 1, 2, 3 missing from b2)
    val m2h = Scd.scd2Merge(m1, b2, Seq("k"), Seq("v"), to_date(lit("2020-03-01")),
      hardDelete = true)
    val expectedH = rows(m2) -
      ((1L, Some("a2"), "2020-02-01", None, true)) -
      ((2L, Some("b"), "2020-01-01", None, true)) ++ Set(
      (1L, Some("a2"), "2020-02-01", Some("2020-03-01"), false),
      (2L, Some("b"), "2020-01-01", Some("2020-03-01"), false),
    )
    assert(rows(m2h) === expectedH)
  }

  test("pageRank: integer power iteration matches hand computation; mass conserved sans floors") {
    // a <-> b, a <-> c (star): deg a=2, b=1, c=1
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")).toDF("src", "dst")
    def ranks(iters: Int) = graft.ops.PageRank.pageRank(edges, iters).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // round 1: a gets 1M+1M, b/c get 500k each
    assert(ranks(1) === Map("a" -> 1850000L, "b" -> 575000L, "c" -> 575000L))
    // round 2: a gets 575k+575k=1.15M; b/c get 1850000 div 2 = 925k
    assert(ranks(2) === Map("a" -> 1127500L, "b" -> 936250L, "c" -> 936250L))
    // determinism: a repartitioned edge list yields identical ranks
    val shuffled = graft.ops.PageRank.pageRank(edges.repartition(7), 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(shuffled === ranks(2))
    // the noDangling fast path (symmetric graph) is result-identical
    val fast = graft.ops.PageRank.pageRank(edges, 2, noDangling = true).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fast === ranks(2))
    // a genuinely dangling sink still gets its teleport row on the general path
    val dangling = Seq(("a", "b")).toDF("src", "dst")
    val dr = graft.ops.PageRank.pageRank(dangling, 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dr === Map("a" -> 150000L, "b" -> 1000000L))
    // weighted: a splits 3:1 between b and c (W(a)=4)
    val we = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val wr = graft.ops.PageRank.pageRank(we, 1, weightCol = Some("w")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wr === Map("a" -> 1850000L, "b" -> 787500L, "c" -> 362500L))
  }

  test("funnelSteps: strict ordering, stall propagation, ties do not advance") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val events = Seq(
      // user 1 converts fully: view@10, click@20, purchase@30
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // user 2: click BEFORE view never counts; no click after view -> stalls at 1
      (2L, "click", 5L), (2L, "view", 10L), (2L, "purchase", 20L),
      // user 3: click at the SAME ts as view does not advance (strict >)
      (3L, "view", 10L), (3L, "click", 10L),
      // user 4: purchase only -> 0 steps but still reported
      (4L, "purchase", 10L),
      // user 5: second click after view is the one that counts
      (5L, "click", 1L), (5L, "view", 2L), (5L, "click", 9L), (5L, "purchase", 11L),
    ).map { case (u, t, sec) => (u, t, ts(sec)) }.toDF("user_id", "event_type", "ts")
    val out = graft.ops.Funnel
      .funnelSteps(events, "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .collect()
      .map(r =>
        r.getAs[Long]("user_id") ->
          (Option(r.getAs[Timestamp]("step1_ts")).map(_.getTime / 1000),
            Option(r.getAs[Timestamp]("step2_ts")).map(_.getTime / 1000),
            Option(r.getAs[Timestamp]("step3_ts")).map(_.getTime / 1000),
            r.getAs[Int]("steps_completed"))
      )
      .toMap
    assert(out(1L) === ((Some(10L), Some(20L), Some(30L), 3)))
    assert(out(2L) === ((Some(10L), None, None, 1)))
    assert(out(3L) === ((Some(10L), None, None, 1)))
    assert(out(4L) === ((None, None, None, 0)))
    assert(out(5L) === ((Some(2L), Some(9L), Some(11L), 3)))
    val report = graft.ops.Funnel.funnelReport(
      graft.ops.Funnel.funnelSteps(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase")),
      nSteps = 3,
    ).collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(report === Array((1, 4L, 1000000L), (2, 2L, 500000L), (3, 2L, 500000L)))
  }

  test("componentSplit: near-dup components never straddle the train/valid boundary") {
    // components {1,2,3,7}, {4,5}; 6 and 8 singleton
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 7L), (4L, 5L)).toDF("a_id", "b_id")
    val docs  = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).toDF("doc_id")
    val out = Dedup.componentSplit(docs, "doc_id", pairs, validFraction = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"), r.getAs[String]("split")))
    assert(out.length === 8) // every doc assigned, singletons included
    // atomic per component: one split value per component id
    val byComp = out.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byComp.values.forall(_.size === 1), s"component split leaked: ${byComp.toMap}")
    // singletons are their own component
    assert(out.collect { case (id, c, _) if id == 6L || id == 8L => id == c }.forall(identity))
    // deterministic: a re-run is byte-identical
    val again = Dedup.componentSplit(docs, "doc_id", pairs, validFraction = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"), r.getAs[String]("split")))
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    // raising the fraction only moves components train -> valid, never back
    val lo = Dedup.componentSplit(docs, "doc_id", pairs, validFraction = 0.2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toMap
    val hi = Dedup.componentSplit(docs, "doc_id", pairs, validFraction = 0.8).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toMap
    assert(lo.collect { case (id, "valid") => hi(id) == "valid" }.forall(identity))
  }

  test("star-contraction CC equals label propagation, incl. a diameter-200 chain") {
    // random graph: 120 nodes, 90 seeded-random edges
    val rnd  = new scala.util.Random(11)
    val rand = (1 to 90).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .toDF("a_id", "b_id")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    // all three regimes agree: driver union-find (default cutoff),
    // distributed star contraction (cutoff 0), label propagation
    val viaUnionFind = toMap(Dedup.clusterPairs(rand))
    val viaStars     = toMap(Dedup.clusterPairs(rand, driverEdgeCutoff = 0L))
    assert(viaUnionFind === viaStars)
    assert(viaUnionFind === toMap(Reference.clusterPairsPropagate(rand)))

    // the same graph as a pair list arrives from a verify join: self-
    // loops on graph nodes, duplicate and reversed pairs, and node 500
    // seen only in a self-loop (its own component)
    val edges = rand.as[(Long, Long)].collect().toSeq
    val messy = (edges ++ edges.take(10) ++ edges.slice(10, 20).map(_.swap) ++
      edges.take(5).map { case (a, _) => (a, a) } :+ ((500L, 500L))).toDF("a_id", "b_id")
    val (small, jobs) = org.apache.spark.JobCount(spark.sparkContext) {
      toMap(Dedup.clusterPairs(messy))
    }
    info(s"small-graph clustering + collect: $jobs Spark jobs")
    assert(jobs <= 2, s"small-graph clustering ran $jobs Spark jobs")
    assert(small === toMap(Dedup.clusterPairs(messy, driverEdgeCutoff = 0L)))
    assert(small === toMap(Reference.clusterPairsPropagate(messy)))
    assert(small(500L) === 500L && small - 500L === viaUnionFind)

    // pathological chain 0-1-…-200: diameter far beyond the default
    // round budget of label propagation; star contraction closes it
    // inside its O(log² n) budget and labels every node 0
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val comps = toMap(Dedup.clusterPairs(chain, driverEdgeCutoff = 0L))
    assert(comps.size === 201 && comps.values.forall(_ === 0L))
    assert(toMap(Dedup.clusterPairs(chain)) === comps) // union-find path agrees
  }

  test("native float_dot is bit-identical to the composed fold") {
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f), Array.fill(64)(rnd.nextFloat() - 0.5f))
    }
    val df = vecs.toDF("id", "a", "b")
    val rows = df
      .select(
        Reference.dotFold(col("a"), col("b")).as("fold"),
        Similarity.dot(col("a"), col("b")).as("native"),
      )
      .collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("brute-force top-k ranks an exact duplicate vector first") {
    val rnd  = new scala.util.Random(11)
    val vs   = (0L until 20L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val dupd = vs :+ (99L, vs.head._2.clone()) // vec 99 duplicates vec 0
    val df   = dupd.toDF("vec_id", "embedding")
    val top = Similarity
      .bruteForceTopK(df.filter(col("vec_id") === 0), df, "vec_id", "embedding", k = 1)
      .collect()
    assert(top.length === 1)
    assert(top.head.getAs[Long]("n_id") === 99L)
    assert(math.abs(top.head.getAs[Double]("cos") - 1.0) < 1e-9)
  }

  test("text ops: tokens, shingles, langId precedence, slug idempotence") {
    val df = Seq("the quick brown fox jumps the fence").toDF("text")
    val toks = df.select(Text.tokens(col("text"))).head().getSeq[String](0)
    assert(toks.length === 7)
    val sh = df
      .select(Text.tokens(col("text")).as("t"))
      .select(Text.shingles(col("t"), 3))
      .head()
      .getSeq[String](0)
    assert(sh.length === 5)
    assert(sh.head === "the quick brown")
    assert(df.select(Text.langId(col("text"))).head().getString(0) === "en")
    // shorter than n => empty
    val empty = Seq("one two").toDF("text")
      .select(Text.tokens(col("text")).as("t")).select(Text.shingles(col("t"), 3))
      .head().getSeq[String](0)
    assert(empty.isEmpty)
    // slug idempotence over arbitrary strings
    val gen = new scala.util.Random(3)
    (1 to 200).foreach { _ =>
      val s    = (1 to gen.nextInt(20)).map(_ => gen.nextPrintableChar()).mkString
      val once = graft.ocsf.FindingUidGenerator.normalizeJvm(s)
      assert(graft.ocsf.FindingUidGenerator.normalizeJvm(once) === once, s"input: $s")
    }
  }

  test("multimodal: packed binary + batched stub decode round-trips deterministically") {
    val docs = Seq((1L, "hello", "s0"), (2L, "", "s1"), (3L, "wide world", "s2"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.packDocuments(docs)
    assert(media.schema("content").dataType.typeName === "binary")
    val feats = Multimodal.extractFeatures(media, batchSize = 2).collect().sortBy(_.doc_id)
    assert(feats.map(_.n_bytes).toSeq === Seq(5, 0, 10))
    assert(feats.head.head_byte === 'h'.toInt)
    assert(feats(1).head_byte === -1)
    assert(feats.head.checksum === "5d41402abc4b2a76b9719d911017c592") // md5("hello")
    // frame sampling yields n fixed-width binary slices
    val frames = media
      .filter(col("doc_id") === 3)
      .select(Multimodal.frameSample(col("content"), 3, 4).as("f"))
      .head()
      .getSeq[Array[Byte]](0)
    assert(frames.length === 3)
    assert(new String(frames.head, "UTF-8") === "wide")
    // the generic contract accepts any decoder/feature type
    val custom = Multimodal.decodeWith(
      media,
      new Multimodal.MediaDecoder[(Long, Int)] {
        def decode(id: Long, b: Array[Byte]): (Long, Int) = (id, b.length)
      },
    ).collect().sortBy(_._1)
    assert(custom.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(custom.map(_._2).toSeq === Seq(5, 0, 10))
  }

  test("patchGrid: complete patches only; empty/short payloads yield none; offsets hand-checked") {
    // rowBytes=8, patch 4x2: doc 1 has 3 raster rows (24 bytes) -> 1
    // complete patch row (2 patches), third raster row clipped.
    // doc 2 (7 bytes, no complete raster row) and doc 3 (empty) -> none.
    val docs = Seq(
      (1L, "x" * 24, "s"),
      (2L, "x" * 7, "s"),
      (3L, "", "s"),
    ).toDF("doc_id", "text", "source")
    val got = Multimodal
      .packDocuments(docs)
      .select(col("doc_id"),
        explode(Multimodal.patchGrid(col("content"), rowBytes = 8, patchW = 4, patchH = 2)).as("p"))
      .select(col("doc_id"), col("p.patch_id"), col("p.px"), col("p.py"),
        col("p.x0"), col("p.y0"), col("p.byte_offset"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getLong(6)))
      .toSet
    assert(got === Set(
      (1L, 0, 0, 0, 0, 0, 0L),
      (1L, 1, 1, 0, 4, 0, 4L),
    ))
  }

  test("perceptualHash: mean-threshold bits hand-checked; constant grid hashes 0; groups collapse re-encodes") {
    // cells of 4 bytes, 4 cells. doc 1: one loud cell then quiet ones →
    // only bit 0 set. doc 2: constant bytes → all-equal grid → 0 (strict >).
    // doc 3: a "re-encode" of doc 1 (different bytes, same loud/quiet
    // shape) → same hash. doc 4: empty payload → no hash row.
    val docs = Seq(
      (1L, "~~~~" + "!" * 12, "s"), // loud cell 0 (126²), quiet 1-3 (33²)
      (2L, "aaaaaaaaaaaaaaaa", "s"),
      (3L, "}}}}" + "#" * 12, "s"), // same loud/quiet shape, different bytes
      (4L, "", "s"),
    ).toDF("doc_id", "text", "source")
    val media = Multimodal.packDocuments(docs)
    val ph = Multimodal.perceptualHash(media, cells = 4, cellBytes = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph === Map(1L -> 1L, 2L -> 0L, 3L -> 1L), "empty payload must yield no hash row")
    val groups = Multimodal.phashGroups(media, cells = 4, cellBytes = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(groups === Map(1L -> ((1L, 2L)), 0L -> ((2L, 1L))),
      "perceptually identical re-encodes must share a group byte-exact dedup would split")
  }

  test("phashNearPairs: pigeonhole banding surfaces exactly the within-distance pairs") {
    // 4-cell hashes: A = 0b0001, B = 0b0011 (hamming 1, band 1 intact),
    // C = 0b1100 (hamming 3 from A, 4 from B - no shared band with B,
    // candidate with A via no band... bits 2-3 differ, 0-1 differ -> no)
    val docs = Seq(
      (1L, "~~~~" + "!" * 12, "s"),        // loud cell 0 -> 0b0001
      (2L, "~~~~~~~~" + "!" * 8, "s"),     // loud cells 0,1 -> 0b0011
      (3L, "!" * 8 + "~~~~~~~~", "s"),     // loud cells 2,3 -> 0b1100
    ).toDF("doc_id", "text", "source")
    val got = Multimodal
      .phashNearPairs(Multimodal.packDocuments(docs), cells = 4, cellBytes = 4,
        bands = 2, maxHamming = 1)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Long]("hamming")))
      .toSet
    assert(got === Set((1L, 2L, 1L)))
  }

  test("ivfAppend: incremental index equals from-scratch rebuild; delta-only assignment; probes agree") {
    val gen = new scala.util.Random(7)
    val vecs = (0L until 60L).map(i => (i, Array.fill(16)(gen.nextFloat() * 2 - 1)))
    val emb  = vecs.toDF("vec_id", "embedding")
    val a    = emb.filter(col("vec_id") < 40)
    val b    = emb.filter(col("vec_id") >= 40)
    val cents = Similarity.ivfCentroids(a, "vec_id", "embedding", 8)

    // append(delta) == rebuild(full) with the same frozen quantizer:
    // assignment is a pure per-row function of the centroid set
    def cells(ix: org.apache.spark.sql.DataFrame) =
      ix.select("vec_id", "cent_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val incremental = Similarity.ivfAppend(
      Similarity.ivfIndex(a, "vec_id", "embedding", cents), b, cents, "vec_id", "embedding")
    val fromScratch = Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
    assert(cells(incremental) === cells(fromScratch))
    assert(incremental.count() === 60L)

    // the existing rows are untouched by an append: same (id, cell)
    // rows before and after, plus exactly the delta's
    val before = cells(Similarity.ivfIndex(a, "vec_id", "embedding", cents))
    assert(cells(incremental).filter(_._1 < 40L) === before)

    // a probe over the appended index equals the one-shot ivfTopK
    def top(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "rnk").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val viaIndex = Similarity.ivfTopKFromIndex(
      incremental, "vec_id", "embedding", k = 2, cents, nprobe = 2, col("vec_id") < 5)
    val oneShot = Similarity.ivfTopK(
      emb, "vec_id", "embedding", k = 2, cents, nprobe = 2, col("vec_id") < 5)
    assert(top(viaIndex) === top(oneShot))
    assert(top(viaIndex).nonEmpty)
  }

  test("ivfRefresh: re-centered index == from-scratch rebuild; drift nonneg, zero for untouched cells") {
    val gen  = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i => (i, Array.fill(16)(gen.nextFloat() * 2 - 1)))
    val emb  = vecs.toDF("vec_id", "embedding")
    val a    = emb.filter(col("vec_id") < 40)
    val b    = emb.filter(col("vec_id") >= 40)
    val cents = Similarity.ivfCentroids(a, "vec_id", "embedding", 8)
    val appended = Similarity.ivfAppend(
      Similarity.ivfIndex(a, "vec_id", "embedding", cents), b, cents, "vec_id", "embedding")

    val (recentered, refreshed) =
      Similarity.ivfRefresh(appended, cents, "vec_id", "embedding", iters = 1)

    // refresh == rebuilding a fresh index with the refreshed quantizer
    def cells(ix: org.apache.spark.sql.DataFrame) =
      ix.select("vec_id", "cent_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val rebuilt = Similarity.ivfIndex(emb, "vec_id", "embedding", recentered)
    assert(cells(refreshed) === cells(rebuilt))
    assert(refreshed.count() === 60L)

    // re-centering genuinely moved the quantizer (the corpus mean is
    // not the seed vector) and the layout actually changed somewhere
    val drift = Similarity.ivfCentroidDrift(cents, recentered)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(drift.size === 8)
    assert(drift.values.forall(_ >= 0.0))
    assert(drift.values.exists(_ > 0.0), "one Lloyd step over random data must move centroids")

    // a quantizer with an EMPTY cell keeps that centroid: drift 0.
    // The empty cell is GUARANTEED by construction — a duplicate of an
    // existing centroid under a larger cent_id ties on cosine
    // everywhere and the (cos desc, cent_id asc) tie-break always
    // prefers the original, so cell 999 gets no members.
    val withEmpty = cents.unionByName(
      cents.orderBy(col("cent_id")).limit(1)
        .select(lit(999L).as("cent_id"), col("cent_emb"), col("cent_nrm")))
    val (rec2, _) = Similarity.ivfRefresh(
      Similarity.ivfIndex(emb, "vec_id", "embedding", withEmpty),
      withEmpty, "vec_id", "embedding", iters = 1)
    val d2 = Similarity.ivfCentroidDrift(withEmpty, rec2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d2(999L) === 0.0, "an empty cell's centroid must not move (coalesce to old)")
  }

  test("corpus pipeline: quality + language gates, exact and fuzzy dedup composed") {
    val base    = "the data pipeline processes " + (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = "the data pipeline processes " + (1 to 38).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val docs = Seq(
      (1L, base),
      (2L, base),                  // exact duplicate of 1 -> dropped
      (3L, nearDup),               // near-duplicate of 1 -> dropped
      (4L, "too short"),           // quality gate -> dropped
      (5L, "the unrelated corpus " + (100 to 140).map(i => s"w$i").mkString(" ")),
    ).toDF("doc_id", "text")
    val kept = CorpusPipeline
      .prepare(docs, "doc_id", "text", CorpusPipeline.Config(minTokens = 10, minJaccard = 0.5))
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .sorted
    assert(kept === Array(1L, 5L))
  }

  /** The corpus pipeline as separately composed stages: exact dedup by
    * a semi-join against [[Dedup.exactGroups]], then the exploded
    * shingle table → [[Reference.minhashLshPairs]] → [[Dedup.dedupByPairs]].
    * [[CorpusPipeline.prepare]] fuses these and must return the same
    * rows. */
  private def composedPrepare(docs: org.apache.spark.sql.DataFrame, cfg: CorpusPipeline.Config) = {
    val nTok   = Text.tokenCount(col("text"))
    val inLang = docs
      .filter(nTok >= cfg.minTokens && nTok <= cfg.maxTokens)
      .filter(Text.langId(col("text")).isin(cfg.languages.toSeq: _*))
    val keep  = Dedup.exactGroups(inLang, "doc_id", "text").select(col("keep_id").as("__keep_id"))
    val exact = inLang.join(keep, inLang("doc_id") === col("__keep_id"), "left_semi")
    val pairs = Reference
      .minhashLshPairs(Dedup.shingleSets(exact, "doc_id", "text", cfg.shingleN),
        cfg.minhashK, cfg.rowsPerBand, cfg.minJaccard)
      .select("a_id", "b_id")
    Dedup.dedupByPairs(exact, "doc_id", pairs)
  }

  private val plantedCorpus = {
    val base    = "the data pipeline processes " + (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = "the data pipeline processes " + (1 to 38).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val farDup  = "the data pipeline processes " + (1 to 30).map(i => s"tok$i").mkString(" ") + " a b c d e"
    Seq(
      (1L, base),
      (2L, base),    // exact duplicate of 1
      (3L, nearDup), // Jaccard ~0.9 with 1
      (4L, farDup),  // Jaccard ~0.7 with 1: a duplicate at 0.5 only
      (5L, "too short"),
      (6L, "the unrelated corpus " + (100 to 140).map(i => s"w$i").mkString(" ")),
    )
  }

  test("corpus pipeline: fused prepare equals the composed stages, planted and sf0.01 corpora") {
    val planted = plantedCorpus.toDF("doc_id", "text")
    val sf001   = spark.read.parquet("perfbench/data/sf0.01/documents.parquet")
    for ((name, docs) <- Seq("planted" -> planted, "sf0.01" -> sf001); tau <- Seq(0.5, 0.8)) {
      val cfg  = CorpusPipeline.Config(minTokens = 10, minJaccard = tau)
      val want = composedPrepare(docs, cfg).collect().map(_.toString).sorted.toSeq
      val got  = CorpusPipeline.prepare(docs, "doc_id", "text", cfg).collect().map(_.toString).sorted.toSeq
      assert(got === want, s"$name at minJaccard $tau")
      // the fuzzy stage must actually drop something, or equality is vacuous
      val exactOnly = composedPrepare(docs, cfg.copy(minJaccard = 1.01)).count()
      info(s"$name at minJaccard $tau: ${want.size} survivors of $exactOnly after exact dedup")
      assert(want.size < exactOnly, s"$name at minJaccard $tau: no near-duplicate dropped")
    }
  }

  test("minhashLshPairsFromSketches equals minhashLshPairs over the shingle table, Jaccard included") {
    import graft.functions.{MinHashMd5Expr, ShingleSetExpr}
    val planted = plantedCorpus.toDF("doc_id", "text")
    val sf001   = spark.read.parquet("perfbench/data/sf0.01/documents.parquet")
    for ((name, docs) <- Seq("planted" -> planted, "sf0.01" -> sf001)) {
      val sketches = docs.select(
        col("doc_id"),
        MinHashMd5Expr.minhash_md5(col("text"), 3, 16).as("mh"),
        ShingleSetExpr.shingle_set(col("text"), 3).as("shs"),
      )
      // minJaccard 0: every LSH candidate with its score
      val got  = Dedup.minhashLshPairsFromSketches(sketches, 16, 4, 0.0)
      val want = Reference.minhashLshPairs(Dedup.shingleSets(docs, "doc_id", "text", 3), 16, 4, 0.0)
      val rows = (df: org.apache.spark.sql.DataFrame) => df.collect().map(_.toString).sorted.toSeq
      val wantRows = rows(want)
      info(s"$name: ${wantRows.size} candidate pairs")
      assert(wantRows.nonEmpty && rows(got) === wantRows, name)
    }
  }

  test("corpus pipeline: prepare(...).count() stays within its Spark job ceiling") {
    // the benchmarked configuration: AQE off, fixed shuffle partitions
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val docs = s.read.parquet("perfbench/data/sf0.01/documents.parquet")
    val (n, jobs) = org.apache.spark.JobCount(s.sparkContext) {
      CorpusPipeline.prepare(docs, "doc_id", "text").count()
    }
    info(s"$n survivors, $jobs Spark jobs")
    assert(n > 0)
    // the sketch-table checkpoint, two runtime bloom-filter subqueries,
    // the clustering probe, the drop-id broadcast and the count: 6
    assert(jobs <= 6, s"prepare + count ran $jobs Spark jobs")
  }

  test("corpus pipeline embedding stage: collapses semantic dups, passes unembedded docs through") {
    // Four docs that all survive the text stage (distinct vocab, no
    // shared shingles), two of which are embedding near-duplicates.
    def words(r: Range) = r.map(i => s"the w$i of t$i in p$i").mkString(" ")
    val docs = Seq(
      (1L, words(1 to 20)),
      (2L, words(30 to 50)),
      (3L, words(60 to 80)),
      (4L, words(90 to 110)), // no embedding row: must pass through
    ).toDF("doc_id", "text")
    val rnd  = new scala.util.Random(7)
    val v1   = Array.fill(16)(rnd.nextGaussian().toFloat)
    val v2   = v1.map(v => v + (rnd.nextGaussian() * 0.01f).toFloat) // cos ≈ 1 with v1
    val v3   = Array.fill(16)(rnd.nextGaussian().toFloat)
    val embs = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "embedding")

    val textOnly = CorpusPipeline
      .prepare(docs, "doc_id", "text", CorpusPipeline.Config(minTokens = 10))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(textOnly === Array(1L, 2L, 3L, 4L), "text stage should keep all four")

    val kept = CorpusPipeline
      .embeddingStage(
        CorpusPipeline.prepare(docs, "doc_id", "text", CorpusPipeline.Config(minTokens = 10)),
        embs, "doc_id", "vec_id", "embedding", embTau = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // doc 2 collapses into doc 1 (canonical = min id); 3 is far; 4 has
    // no embedding and survives untouched
    assert(kept === Array(1L, 3L, 4L))
  }

  test("repetition metrics: null (not a crash) on empty and single-token docs") {
    import graft.ops.Text
    val df = Seq((1L, ""), (2L, "single"), (3L, "a b a b a b"), (4L, "w1 w2 w3 w4"))
      .toDF("doc_id", "text")
      .select(
        col("doc_id"),
        Text.typeTokenRatio(col("text")).as("ttr"),
        Text.topBigramFraction(col("text")).as("tbf"),
      )
    val rows = df.collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(rows(1L) === ((None, None)))
    assert(rows(2L)._1 === Some(1.0) && rows(2L)._2 === None)
    // "a b" occurs 3 of 5 bigrams
    assert(rows(3L)._2 === Some(0.6))
    // 4 tokens -> 3 bigrams, all distinct -> top fraction 1/3
    assert(rows(4L)._1 === Some(1.0) && rows(4L)._2 === Some(1.0 / 3))
  }

  test("embeddingStage degrades to text-only dedup when embeddings are empty") {
    import graft.ops.CorpusPipeline
    def words(r: Range) = r.map(i => s"the w$i of t$i in p$i").mkString(" ")
    val docs = Seq((1L, words(1 to 20)), (2L, words(30 to 50))).toDF("doc_id", "text")
    val noEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val kept = CorpusPipeline
      .embeddingStage(
        CorpusPipeline.prepare(docs, "doc_id", "text", CorpusPipeline.Config(minTokens = 10)),
        noEmb, "doc_id", "vec_id", "embedding", embTau = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 2L))
  }

  test("decontamination: n-gram overlap with the benchmark drops the doc, clean docs survive") {
    import graft.ops.Dedup
    val benchSeq = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = Seq((100L, s"held out eval item $benchSeq end")).toDF("doc_id", "text")
    val docs = Seq(
      // contains the benchmark 8-word run verbatim -> contaminated
      (1L, s"training doc with leaked span $benchSeq and trailing words"),
      // shares vocabulary but never 5 consecutive words -> clean
      (2L, "alpha beta gamma x delta epsilon zeta y eta theta iota"),
      (3L, "entirely unrelated content about spark query planning internals"),
    ).toDF("doc_id", "text")

    val flagged = Dedup.contaminatedIds(docs, bench, "doc_id", "text", n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(flagged === Set(1L))
    val kept = Dedup.decontaminate(docs, bench, "doc_id", "text", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(2L, 3L))
  }

  test("deterministic sampling: reproducible, rate-monotone subsets, zero-rate stratum drops") {
    import graft.ops.Sampling
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    def atRate(rate: Double) = ids(Sampling.stratified(docs, "doc_id", "source", Map.empty, rate))
    val half  = atRate(0.5)
    val half2 = atRate(0.5)
    assert(half === half2, "content-hash sample must be run-reproducible")
    val tenth = atRate(0.1)
    assert(tenth.subsetOf(half), "lowering the rate must shrink, not reshuffle, the sample")
    assert(tenth.nonEmpty && half.size < ids(docs.toDF()).size)

    val strat = Sampling.stratified(docs, "doc_id", "source",
      Map("src0" -> 0.0, "src1" -> 1.0), defaultRate = 0.5)
    val bySource = strat.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySource.contains("src0"), "rate-0 stratum must vanish")
    val src1Total = docs.filter(col("source") === "src1").count()
    assert(bySource("src1") === src1Total, "rate-1 stratum must be complete")
  }

  test("packByBudget: stream order, straddling documents take their first token's window") {
    import graft.ops.Text
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // per-source streams: src A packs 300+300+300 into 512-token
    // windows (doc 3 starts at 600 -> window 1); src B independent
    val docs = Seq(
      (1L, "A", doc(300)), (2L, "A", doc(300)), (3L, "A", doc(300)),
      (10L, "B", doc(600)), (11L, "B", doc(10)),
    ).toDF("doc_id", "source", "text")
    val got = Text.packByBudget(docs, "doc_id", "text", budget = 512, partitionCol = "source")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got(1L) === ((300L, 0L, 0L)))
    assert(got(2L) === ((300L, 300L, 0L))) // straddles 512 but starts in window 0
    assert(got(3L) === ((300L, 600L, 1L)))
    assert(got(10L) === ((600L, 0L, 0L))) // oversized doc owns window 0 of its stream
    assert(got(11L) === ((10L, 600L, 1L)))
  }

  test("tfIdfTopK: rare terms outrank frequent ones; ties break on term; k bounds rows") {
    import graft.ops.Text
    // "common" is in all 3 docs (df=3, idf=1); "rare" only in doc 1
    // (df=1, idf=3). In doc 1, rare (tf=1, score=3) must beat common
    // (tf=2, score=2).
    val docs = Seq(
      (1L, "common common rare"),
      (2L, "common other other"),
      (3L, "common"),
    ).toDF("doc_id", "text")
    val got = Text.tfIdfTopK(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(5)) -> (r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toMap
    assert(got((1L, 1)) === (("rare", 1L, 1L, 3.0)))
    assert(got((1L, 2)) === (("common", 2L, 3L, 2.0)))
    // doc 2: other tf=2 df=1 score=6 beats common tf=1 df=3 score=1
    assert(got((2L, 1))._1 === "other")
    assert(got((2L, 2))._1 === "common")
    // doc 3 has one term only -> one row, not padded to k
    assert(got.keySet.count(_._1 == 3L) === 1)
  }

  test("rareTokenStats: integer threshold flags the long tail; zero-token docs drop") {
    import graft.ops.Text
    // 100 tokens total: "filler" x96, "odd" x2 in doc 2, "x"/"y" in doc 3.
    // At 1%: rare iff count*100 < 100 -> count < 1 -> nothing; use the
    // 3% threshold so odd (2) and x/y (1 each) are rare, filler is not.
    val docs = Seq(
      (1L, Seq.fill(48)("filler").mkString(" ")),
      (2L, (Seq.fill(48)("filler") ++ Seq("odd", "odd")).mkString(" ")),
      (3L, "x y"),
      (4L, ""),
    ).toDF("doc_id", "text")
    val got = Text.rareTokenStats(docs, "doc_id", "text", pctThreshold = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) === ((48L, 0L, 0.0)))
    assert(got(2L) === ((50L, 2L, 0.04)))
    assert(got(3L) === ((2L, 2L, 1.0)))
    assert(!got.contains(4L), "zero-token docs have no occurrence rows")
  }

  test("maskDigitsKeepLast + pseudonym: prefix digits masked, tail kept, salt changes hash") {
    import graft.ops.Text
    val df = Seq("acct-12345", "ab", "9", "no-digits", "12").toDF("s")
      .select(
        col("s"),
        Text.maskDigitsKeepLast(col("s"), keep = 2).as("masked"),
        Text.pseudonym(col("s"), "salt-a").as("pa"),
        Text.pseudonym(col("s"), "salt-b").as("pb"),
      )
    val rows = df.collect().map(r => r.getString(0) -> r).toMap
    assert(rows("acct-12345").getString(1) === "acct-XXX45")
    assert(rows("ab").getString(1) === "ab", "short strings pass through")
    assert(rows("9").getString(1) === "9")
    assert(rows("12").getString(1) === "12", "length == keep passes through")
    assert(rows("no-digits").getString(1) === "no-digits")
    val r = rows("acct-12345")
    assert(r.getString(2) !== r.getString(3), "different salts must not collide")
    assert(r.getString(2).matches("[0-9a-f]{64}"))
  }

  test("dedupCapCopies: groups truncate at the cap in id order; singletons untouched") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "same text"), (2L, "same text"), (3L, "same text"),
      (4L, "same   text"), // whitespace-normalized fingerprint collides too
      (5L, "unique"),
    ).toDF("doc_id", "text")
    val got = Dedup.dedupCapCopies(docs, "doc_id", "text", maxCopies = 2)
      .select("doc_id", "copy_rank")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 1, 2L -> 2, 5L -> 1), "ids 3 and 4 exceed the cap")
  }

  test("PQ int8: codebook shape, seed self-encoding, ADC puts an exact twin first") {
    import graft.ops.Similarity
    // dim=4, m=2 (dsub=2), ksub=2: codebook = subvectors of ids 0 and 1
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f)),
      (5L, Seq(1f, 0f, 0f, 0f)), // exact twin of id 0
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrainInt8Dim(vecs, "vec_id", "embedding", m = 2, ksub = 2, dim = 4)
    assert(cb.count() === 4) // m * ksub rows
    val enc = Similarity
      .pqEncodeInt8Dim(vecs, cb, "vec_id", "embedding", m = 2, dim = 4)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .toMap
    assert(enc.values.forall(_.length == 2), "m codes per vector")
    assert(enc(0L) === Seq(0L, 0L), "seed 0 encodes to its own codes (ties to smaller id)")
    assert(enc(1L) === Seq(1L, 0L), "seed 1's first subvector is code 1")
    // the twin of id 0 must rank id 0 first under ADC
    val top = Similarity
      .pqAdcTopK(vecs, "vec_id", "embedding", k = 1, m = 2, ksub = 2,
        queryPred = col("vec_id") === 5)
      .collect()
    assert(top.length === 1 && top.head.getAs[Long]("n_id") === 0L, top.mkString(","))
  }

  test("PQ Lloyd refinement: distortion decreases, shape preserved, deterministic") {
    import graft.ops.Similarity
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // The property Lloyd guarantees — and the one that matters for ADC
    // accuracy in expectation — is that the k-means objective (mean
    // integer L2 distortion between each subvector and its nearest
    // codebook entry) goes DOWN. Top-k recall on a handful of queries is
    // too noisy at m=8/ksub=16 compression to pin (measured: it wobbles
    // both directions per iteration while distortion falls 14507 → 11161
    // over 3 rounds on this data).
    val dsub = 8
    val subs = Similarity
      .quantizeInt8(emb, "embedding")
      .select(
        col("vec_id"),
        posexplode(
          transform(sequence(lit(0), lit(7)), s => slice(col("q_emb"), s * dsub + 1, lit(dsub)))
        ).as(Seq("sub_id", "qsub")),
      )
    def distortion(cb: org.apache.spark.sql.DataFrame): Double = {
      val d = aggregate(
        zip_with(col("qsub"), col("code"), (a, b) => (a - b) * (a - b)),
        lit(0L),
        (x, v) => x + v,
      )
      subs
        .join(broadcast(cb), Seq("sub_id"))
        .select(col("vec_id"), col("sub_id"), d.as("d"))
        .groupBy("vec_id", "sub_id")
        .agg(min(col("d")).as("md"))
        .agg(avg("md"))
        .head()
        .getDouble(0)
    }
    val dim = 8 * dsub
    def refine(cb: org.apache.spark.sql.DataFrame, iters: Int) = Similarity.pqRefineFromSubs(
      Similarity.pqSubvectors(emb, "vec_id", "embedding", m = 8, dsub).localCheckpoint(),
      cb, "vec_id", iters)
    val cb0Dist = Similarity.pqTrainInt8Dim(emb, "vec_id", "embedding", m = 8, ksub = 16, dim)
    val d0 = distortion(cb0Dist)
    val d1 = distortion(refine(cb0Dist, 1))
    val d2 = distortion(refine(cb0Dist, 2))
    assert(d1 < d0, s"one Lloyd round must cut distortion: $d0 -> $d1")
    assert(d2 <= d1, s"second round must not regress: $d1 -> $d2")

    val cb0 = Similarity.pqTrainInt8Dim(emb, "vec_id", "embedding", m = 8, ksub = 16, dim)
    val r1  = refine(cb0, 2)
    val r2  = refine(cb0, 2)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.get(0), r.get(1)), r.getSeq[Long](2))).toMap
    val s1 = snap(r1)
    assert(s1 === snap(r2), "integer rounded-mean refinement must be bit-deterministic")
    assert(s1.size === 8 * 16, "m x ksub entries survive refinement")
    assert(s1.values.forall(_.length === 8), "dsub-length codes")
    assert(
      s1.values.forall(_.forall(v => v >= -127L && v <= 127L)),
      "rounded means of int8 points stay in the int8 range",
    )
  }

  test("chunkDedup: result is invariant to input partitioning") {
    import graft.ops.Dedup
    val docs = (0L until 60L).map(i =>
      (i, (0 until 12).map(j => s"w${(i * 5 + j) % 17}").mkString(" "))).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.chunkDedup(df, "doc_id", "text", chunkTokens = 4)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(run(docs.repartition(1)) === run(docs.repartition(7)),
      "global first-occurrence must not depend on partitioning")
  }

  test("chunkDedup: duplicated spans removed, rest of document kept, empties survive") {
    import graft.ops.Dedup
    // chunkTokens=2. Doc 1 is the first occurrence of everything; doc 2
    // repeats doc 1's chunks exactly plus a unique tail chunk; doc 3 is
    // a full copy (every chunk a dup); doc 4 shares no chunk; doc 5 is
    // empty (zero tokens — must survive with n_chunks=0, not vanish or
    // trip the ANSI descending-sequence edge).
    val docs = Seq(
      (1L, "a b c d e f"),        // chunks: "a b","c d","e f"
      (2L, "a b c d tail two"),   // "a b","c d" dup; "tail two" kept
      (3L, "a b c d e f"),        // all dup -> "" retained row
      (4L, "x y z"),              // "x y","z" both unique
      (5L, ""),
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === (("a b c d e f", 3L, 3L)))
    assert(got(2L) === (("tail two", 3L, 1L)))
    assert(got(3L) === (("", 3L, 0L)))
    assert(got(4L) === (("x y z", 2L, 2L)))
    assert(got(5L) === (("", 0L, 0L)))
  }

  test("dedupIncremental: known fingerprints dropped, intra-batch dups collapse, delta is new fps") {
    import graft.ops.Dedup
    val known = Seq((100L, "already ingested")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "already   ingested"), // known (whitespace-normalized) -> dropped
      (2L, "fresh content"),
      (3L, "fresh content"),      // intra-batch dup -> collapses to id 2
      (4L, "also new"),
    ).toDF("doc_id", "text")
    val idx = Dedup.fingerprintIndex(known, "text")
    val got = Dedup.dedupIncremental(batch, "doc_id", "text", idx)
      .collect().map(_.getLong(0)).sorted
    assert(got === Array(2L, 4L))
    // appending the survivors' fps makes a rerun of the same batch a no-op
    val idx2 = idx.union(Dedup.dedupIncremental(batch, "doc_id", "text", idx).select("fp"))
    assert(Dedup.dedupIncremental(batch, "doc_id", "text", idx2).count() === 0L)
  }

  test("quantizeInt8: max element saturates at 127, zero vector is all zeros, codes bounded") {
    import graft.ops.Similarity
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(df, "embedding")
      .select("vec_id", "q_scale", "q_emb", "n_sat")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = rows(1L)
    assert(r1.getDouble(1) === 1.0)
    assert(r1.getSeq[Long](2) === Seq(64L, -127L, 32L)) // floor(0.5*127+0.5)=64
    assert(r1.getInt(3) === 1)
    val r2 = rows(2L)
    assert(r2.getDouble(1) === 0.0)
    assert(r2.getSeq[Long](2) === Seq(0L, 0L))
    assert(r2.getInt(3) === 0)
  }

  test("bruteForceTopKInt8: integer ranking matches expected order; self excluded") {
    import graft.ops.Similarity
    // query (1,0): codes (127,0). near (0.9,0.1)->(127,14); mid
    // (0.5,0.5)->(127,127); far (-1,0)->(-127,0). qdots: 16129, 16129,
    // -16129 — near and mid TIE on qdot (both 127*127), id breaks it.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(-1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val got = Similarity
      .bruteForceTopKInt8(vecs.filter(col("vec_id") === 0L), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rnk")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got === Array((1L, 16129L, 1), (2L, 16129L, 2), (3L, -16129L, 3)))
  }

  test("reservoirPerStratum: exact quota per stratum, subset-monotone in k, reproducible") {
    import graft.ops.Sampling
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def ids(k: Int) = Sampling.reservoirPerStratum(docs, "doc_id", "source", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k5 = ids(5)
    val bySource = Sampling.reservoirPerStratum(docs, "doc_id", "source", 5)
      .groupBy("source").count().collect().map(_.getLong(1)).toSet
    assert(bySource === Set(5L), "every stratum must hit its quota exactly")
    assert(ids(2).subsetOf(k5), "shrinking the quota must not reshuffle the sample")
    assert(ids(5) === k5, "content-hash reservoir must be run-reproducible")
  }

  test("tokenBudgetPerStratum: prefix fill to quota, budget-monotone, zero budget drops stratum") {
    import graft.ops.Sampling
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def sel(budgets: Map[String, Long], dflt: Long) = Sampling
      .tokenBudgetPerStratum(docs, "doc_id", "source", "n_chars", budgets, dflt)
    val small = sel(Map("src0" -> 500L, "src1" -> 0L), 800L)
    val big   = sel(Map("src0" -> 1500L, "src1" -> 0L), 2000L)
    val smallIds = small.select("doc_id").collect().map(_.getLong(0)).toSet
    val bigIds   = big.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(smallIds.nonEmpty && smallIds.subsetOf(bigIds),
      "a smaller budget must select a prefix of the larger budget's sample")
    assert(small.filter(col("source") === "src1").count() === 0L, "zero budget drops the stratum")
    // every stratum respects its quota: re-derive the cumulative sums
    val over = sel(Map("src0" -> 500L), 800L)
      .groupBy("source").agg(sum("n_chars").as("tot"))
      .filter(
        (col("source") === "src0" && col("tot") > 500L) ||
          (col("source") =!= "src0" && col("tot") > 800L))
    assert(over.count() === 0L, "no stratum may exceed its budget")
  }

  test("frequentShingles: df counts distinct docs, top-k cut is deterministic") {
    val docs = Seq(
      (1L, "a b c d"),     // shingles: "a b c", "b c d"
      (2L, "a b c a b c"), // distinct-contributes "a b c" once (plus others)
      (3L, "a b c x y"),
      (4L, "q r s t"),
    ).toDF("doc_id", "text")
    val top = Text.frequentShingles(docs, "doc_id", "text", n = 3, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.head === ("a b c", 3L), "within-doc repetition must not inflate df")
    assert(top.length === 2 && top(1)._2 <= 3L)
  }

  test("boilerplateStats: frequent-shingle fraction per doc; short docs drop out") {
    val docs = Seq(
      (1L, "a b c d"), // "a b c" shared with doc 2 => 1 of 2 frequent
      (2L, "a b c"),   // single shingle, shared => frac 1.0
      (3L, "u v w z"), // nothing shared => frac 0.0
      (4L, "xy"),      // < 3 tokens => no shingles => no row
    ).toDF("doc_id", "text")
    val got = Text.boilerplateStats(docs, "doc_id", "text", n = 3, minDf = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((2L, 1L, 0.5)))
    assert(got(2L) === ((1L, 1L, 1.0)))
    assert(got(3L) === ((2L, 0L, 0.0)))
    assert(!got.contains(4L), "docs with no shingles must drop out (same as the SQL oracle)")
  }

  test("dedupKeepBest: keeps the highest-score member per component, min id on ties") {
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // component {1,2,3}: best score 30, tie -> id 2
      (4L, 5L), (5L, 50L),             // component {4,5}: best score 50 at id 5

      (6L, 7L), // unpaired: always kept
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val kept = Dedup.dedupKeepBest(docs, "doc_id", "score", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 5L, 6L))
  }

  test("annRerankTopK: with a full-coverage pool the rerank equals exact inner-product top-k") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(-1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val got = Similarity
      .annRerankTopK(vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 2,
        mult = 3) // k*mult >= |candidates| => pool is everything => exact
      .select("n_id", "rnk").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === Set((1L, 1), (2L, 2)), "rerank must order by exact float dot")
  }

  test("annIvfInt8TopK: integer ranking within probed cells; full probe equals int8 brute force") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 4)
    // probing EVERY cell makes the candidate set the whole corpus, so
    // the composition must equal the int8 brute force exactly
    val ivf = Similarity
      .annIvfInt8TopK(emb, "vec_id", "embedding", k = 3, cents, nprobe = 4,
        queryPred = col("vec_id") < 5)
      .select("q_id", "n_id", "qdot", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val brute = Similarity
      .bruteForceTopKInt8(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 3)
      .select("q_id", "n_id", "qdot", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(ivf === brute)
  }

  test("qualityReport: reason precedence, null-guarded signals, keep iff no reason") {
    val docs = Seq(
      (1L, "a b"),                                       // too_short (and low ttr — precedence)
      (2L, ("the word " * 60).trim),                     // too_long beats repetitive
      (3L, "uno dos tres cuatro cinco seis siete ocho"), // no markers => lang
      (4L, "the the the the the is is is of of"),        // en, ttr 0.3 => repetitive_ttr
      (5L, "the cat sat on a mat and then walked out"),  // clean => keep
    ).toDF("doc_id", "text")
    val got = Text
      .qualityReport(docs, "doc_id", "text", minTokens = 3, maxTokens = 50,
        languages = Seq("en", "es", "de", "fr"), minTtr = 0.35, maxTopBigram = 0.5)
      .select("doc_id", "reason", "keep")
      .collect().map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getBoolean(2)))).toMap
    assert(got(1L) === ((Some("too_short"), false)))
    assert(got(2L) === ((Some("too_long"), false)))
    assert(got(3L) === ((Some("lang"), false)))
    assert(got(4L) === ((Some("repetitive_ttr"), false)))
    assert(got(5L) === ((None, true)))
  }

  test("containmentPairs: prefix contained, partial overlap excluded, identical sets mutual") {
    val docs = Seq(
      (1L, "a b c d e f g"), // outer
      (2L, "a b c d e"),     // shingle subset of 1 => contained
      (3L, "a b c x y z"),   // shares only "a b c" => NOT contained
      (4L, "a b c d e"),     // identical set to 2 => mutual containment with 2
    ).toDF("doc_id", "text")
    val got = Dedup
      .containmentPairsPrefix(Dedup.shingleSets(docs, "doc_id", "text", 3))
      .select("inner_id", "outer_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((2L, 1L), (4L, 1L), (2L, 4L), (4L, 2L)))
  }

  test("containmentPairsPrefix equals the naive containment join, incl. on real corpus data") {
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e"),
      (3L, "a b c x y z"),
      (4L, "a b c d e"),
      (5L, "q r s t u"), // all-singleton shingles => prunable inner
    ).toDF("doc_id", "text")
    def pairs(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      f(Dedup.shingleSets(docs, "doc_id", "text", 3))
        .select("inner_id", "outer_id", "n_shingles")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs(Reference.containmentPairs(_)) === pairs(Dedup.containmentPairsPrefix(_)))
    // and on a real slice with planted prefixes
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val planted = corpus.limit(10).select(
      (col("doc_id") + 200000).as("doc_id"),
      concat_ws(" ", slice(Text.tokens(col("text")), 1, 12)).as("text"))
    val sh = Dedup.shingleSets(corpus.unionAll(planted), "doc_id", "text", 3)
    val naive = Reference.containmentPairs(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefix = Dedup.containmentPairsPrefix(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive === prefix && naive.nonEmpty)
  }

  test("dedupIncrementalFuzzy: band collisions drop, fresh docs keep, delta closes the loop") {
    val prev = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
    ).toDF("doc_id", "text")
    val index = Dedup.bandIndexNative(prev, "doc_id", "text", n = 3, k = 16, rowsPerBand = 4)
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // replica of 1 => all bands collide
      (11L, "totally different words here entirely now"),
    ).toDF("doc_id", "text")
    val kept = Dedup
      .dedupIncrementalFuzzyNative(batch, "doc_id", "text", index, n = 3, k = 16, rowsPerBand = 4)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet === Set(11L))
    // append the survivors' bands: a re-arrival of 11 now drops too
    val index2 = index.unionAll(Dedup.bandIndexNative(kept, "doc_id", "text", 3, 16, 4))
    val rerun = Seq((12L, "totally different words here entirely now"))
      .toDF("doc_id", "text")
    assert(
      Dedup.dedupIncrementalFuzzyNative(rerun, "doc_id", "text", index2, 3, 16, 4).count() === 0L,
      "the survivor delta must screen the next run")
  }

  test("shardAssign: pure content function, full coverage in range, reproducible") {
    import graft.ops.Sampling
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Sampling.shardAssign(docs, "doc_id", 4)
    val shards = a.select("shard").distinct().collect().map(_.getLong(0)).toSet
    assert(shards.subsetOf(Set(0L, 1L, 2L, 3L)) && shards.size === 4,
      "50 docs over 4 hash shards must cover every shard, all in range")
    assert(a.count() === docs.count(), "assignment is a projection — no rows gained or lost")
    val again = Sampling.shardAssign(docs, "doc_id", 4)
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a.select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === again, "shard of a key never changes between runs")
  }

  test("enrichment registry: specs, parameterization, broken-plugin tolerance") {
    import graft.ocsf.EnrichmentRegistry
    val (ok, errs) = EnrichmentRegistry.createAll(
      Seq(
        "FindingUIDGenerator:sdlc_type=dast",
        "ScanMetadataEnrichment:scan_run_id=run-1",
        "ScanMetadataEnrichment", // missing required arg => reported, not thrown
        "NoSuchPlugin",
      )
    )
    assert(ok.length === 2)
    assert(errs.length === 2)
    assert(errs.exists(_.contains("scan_run_id")))
    assert(errs.exists(_.contains("Unknown enrichment")))
    assert(EnrichmentRegistry.known.contains("FindingUIDGenerator"))
  }

  test("chunkTokens: no pure-duplicate tail chunk; last window reaches the document end") {
    // 49 tokens, chunkSize=64: one chunk only (the old unbounded start
    // sequence emitted a second, 1-token chunk wholly inside the first)
    val doc49 = (1 to 49).map(i => s"t$i").mkString(" ")
    val one   = Text.chunkTokens(Seq(("d", doc49)).toDF("doc_id", "text"), "doc_id", "text", 64, 16)
    assert(one.count() === 1L)
    assert(one.select("n_tok").as[Long].head() === 49L)
    // 100 tokens: starts 0 and 48 — start 96's 4-token window is inside
    // chunk 48's coverage and must not appear
    val doc100 = (1 to 100).map(i => s"t$i").mkString(" ")
    val two    = Text.chunkTokens(Seq(("d", doc100)).toDF("doc_id", "text"), "doc_id", "text", 64, 16)
    assert(two.select("chunk_id").as[Long].collect().sorted.toSeq === Seq(0L, 1L))
    // 113 tokens: token 113 is only covered by start 96 — it must survive
    val doc113 = (1 to 113).map(i => s"t$i").mkString(" ")
    val three  = Text.chunkTokens(Seq(("d", doc113)).toDF("doc_id", "text"), "doc_id", "text", 64, 16)
    assert(three.count() === 3L)
    val last = three.orderBy(col("chunk_id").desc).select("chunk_text").as[String].head()
    assert(last.endsWith("t113"))
  }

  test("trainingSample: hash-prefix prune is bit-identical to the corpus-wide ORDER BY md5 LIMIT n") {
    // force the pruned path (total > margin·4·n) and compare against the
    // oracle form the SQL gate replays
    val ids = (1 to 9000).map(i => (i.toLong, i * 2.0))
    val df  = ids.toDF("vec_id", "v")
    val got = Similarity
      .trainingSample(df, "vec_id", 64)
      .select("vec_id")
      .as[Long]
      .collect()
      .toSeq
    val want = df
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(64)
      .select("vec_id")
      .as[Long]
      .collect()
      .toSeq
    assert(got === want)
    assert(got.length === 64)
  }

  test("BPE induction: hand-checked merge sequence on the Sennrich corpus; adjacent + overlap apply") {
    // the classic example: low×5, lower×2, newest×6, widest×3
    val docs = Seq(
      ("low " * 5) + ("lower " * 2),
      ("newest " * 6) + ("widest " * 3),
    ).zipWithIndex.map { case (t, i) => (i.toLong, t.trim) }.toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, "text", 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(merges.toSeq === Seq(
      (1, "e", "s", "es", 9L),       // e-s/s-t/t-</w> tie at 9 → lhs asc
      (2, "es", "t", "est", 9L),
      (3, "est", "</w>", "est</w>", 9L),
      (4, "l", "o", "lo", 7L),       // l-o/o-w tie at 7 → lhs asc
      (5, "lo", "w", "low", 7L),
    ))

    // tokenizing an UNSEEN word with the learned merges
    val learned = merges.map(m => (m._2, m._3)).toSeq
    val toks = Bpe.applyMerges(Seq((0L, "lowest")).toDF("doc_id", "text"), "text", learned)
      .select("bpe_tokens").as[String].head()
    assert(toks === "low est</w>")

    // adjacent occurrences both merge (the double-space anchor): ABAB
    val ab = Bpe.learnMerges(Seq((0L, "abab abab")).toDF("doc_id", "text"), "text", 1).collect()
    assert(ab.head.getString(3) === "ab" && ab.head.getLong(4) === 4L,
      s"adjacent pairs must all count/merge: ${ab.toSeq}")
    // overlapping occurrences resolve greedily left-to-right: AAA under (a,a)
    val aaa = Bpe.applyMerges(Seq((0L, "aaa")).toDF("doc_id", "text"), "text", Seq(("a", "a")))
      .select("bpe_tokens").as[String].head()
    assert(aaa === "aa a </w>")
  }

  test("temperatureSqrt: sqrt-share rates, budget-monotone subset, rate wiring equals stratified") {
    // strata a: 100 rows, b: 400 → √-weights 10:20 → target shares 1:2
    val df = ((1 to 100).map(i => (i.toLong, "a")) ++ (101 to 500).map(i => (i.toLong, "b")))
      .toDF("doc_id", "source")
    val got = Sampling.temperatureSqrt(df, "doc_id", "source", budget = 50L)
      .select("doc_id").as[Long].collect().toSet
    // the exact rates the op must compute: q_a=10·2^20, q_b=20·2^20
    val (qa, qb) = (10L << 20, 20L << 20)
    val sTot     = qa + qb
    val rates = Map(
      "a" -> (50.0 * qa) / (sTot.toDouble * 100),
      "b" -> (50.0 * qb) / (sTot.toDouble * 400),
    )
    val want = Sampling.stratified(df, "doc_id", "source", rates, defaultRate = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(got === want)
    // shares land near 1:2 (hash-Bernoulli expectation 16.7 vs 33.3)
    val byStratum = Sampling.temperatureSqrt(df, "doc_id", "source", 50L)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStratum("b") > byStratum("a"))
    // budget monotonicity: smaller budget is a subset
    val smaller = Sampling.temperatureSqrt(df, "doc_id", "source", budget = 20L)
      .select("doc_id").as[Long].collect().toSet
    assert(smaller.subsetOf(got))
  }

  test("zero-norm embeddings never rank or report as near-duplicates (NaN cosine guard)") {
    // Spark ranks NaN above every double and NaN >= tau is TRUE — an
    // unguarded zero vector would be the rank-1 neighbor of everything
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f)), // zero-norm: empty doc / OOV row
    ).toDF("vec_id", "embedding")
    val top = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") === 1), emb, "vec_id", "embedding", k = 2)
      .select("n_id").as[Long].collect().toSet
    assert(!top.contains(3L), s"zero vector ranked as a neighbor: $top")
    assert(top.contains(2L))
    val pairs = Similarity
      .embeddingDupPairs(emb, "vec_id", "embedding", tau = 0.5, nPlanes = 8, bands = 2)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"zero vector reported as near-duplicate: $pairs")
  }

  test("CMS: sketch merge = union + re-sum; estimates never underestimate; exact when unsaturated") {
    val a = (1 to 50).flatMap(i => Seq.fill(i % 5 + 1)(i.toLong)).toDF("k")
    val b = (40 to 90).map(_.toLong).toDF("k")
    val (d_, w_) = (4, 64)
    // mergeability: union-then-sketch == sketch-then-sum
    val skUnion = Cms.sketch(a.unionAll(b), "k", d_, w_)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val skSum = Cms.sketch(a, "k", d_, w_).unionByName(Cms.sketch(b, "k", d_, w_))
      .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(skUnion === skSum)
    // one-sided error: estimate >= exact for every key, == when no collision inflates all rows
    val all   = a.unionAll(b)
    val exact = all.groupBy("k").agg(count(lit(1)).as("exact")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = Cms.estimate(Cms.sketch(all, "k", d_, w_), all, "k", d_, w_)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, c) => assert(est(k) >= c, s"k=$k underestimated: ${est(k)} < $c") }
    // an absent key still gets a (collision-only) overestimate, never an error
    val absent = Cms.estimate(Cms.sketch(all, "k", d_, w_), Seq(99999L).toDF("k"), "k", d_, w_)
      .collect()
    assert(absent.length === 1 && absent.head.getLong(1) >= 0L)
  }

  test("learnMergesPerKey == per-key learnMergesFromWords (grouped training is exact)") {
    val docs = Seq(
      (0L, "low lower lowest low low newer newest"),
      (1L, "the quick brown fox the the quick"),
      (2L, "aaa aaaa abab ababab"),
    ).toDF("key", "text")
    val words = docs
      .select(col("key"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy("key", "w").agg(count(lit(1)).as("freq"))
    val grouped = Bpe.learnMergesPerKey(words, "key", numMerges = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3), r.getLong(5)))
      .toSet
    val perKey = (0L to 2L).flatMap { k =>
      Bpe.learnMergesFromWords(words.filter(col("key") === k).select("w", "freq"), 4)
        .collect()
        .map(r => (k, r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    }.toSet
    assert(grouped === perKey, "grouped rounds must equal independent per-key training")
  }

  test("batchedTopK == bruteForceTopK (scores bit-equal, zero-norm rows never rank)") {
    val emb = (1 to 40)
      .map(i => (i.toLong, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6) / 6.0f)))
      .toDF("vec_id", "embedding")
      .unionByName(Seq((99L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")) // zero-norm
    val q     = emb.filter(col("vec_id") <= 5 || col("vec_id") === 99L)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id", "cos", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val brute   = norm(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 4))
    val batched = norm(Similarity.batchedTopK(q, emb, "vec_id", "embedding", k = 4))
    assert(batched === brute, "the batched kernel must be bit-identical to the pair-join form")
    assert(!brute.exists(t => t._1 == 99L || t._2 == 99L), "zero-norm rows must never rank")
  }

  test("recallAtK: exact-vs-approx membership in integer ppm") {
    val exact  = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (2L, 22L))
      .toDF("q_id", "n_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 99L), (2L, 20L), (2L, 21L), (2L, 22L))
      .toDF("q_id", "n_id")
    val got = Similarity.recallAtK(exact, approx, "q_id", "n_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((3L, 666666L)), 2L -> ((3L, 1000000L))))
  }

  test("CMS auto-sizing: the cardinality probe picks a wider sketch on a higher-cardinality corpus") {
    // ladder shape: monotone width, bounded depth, broadcastable d·w
    assert(Cms.chooseCmsSize(10L) === ((4, 256)))
    assert(Cms.chooseCmsSize(100L) === ((4, 4096)))
    assert(Cms.chooseCmsSize(2000L) === ((4, 65536)))
    assert(Cms.chooseCmsSize(1000000000L) === ((4 + 1, 262144)))
    val widths = Seq(1L, 20L, 300L, 5000L, Long.MaxValue).map(Cms.chooseCmsSize(_)._2)
    assert(widths === widths.sorted, s"width must be monotone in cardinality: $widths")

    // sketchAuto wires the probe through: low-cardinality corpus gets
    // the demo rung, a higher-cardinality one a wider sketch
    val lo = (1 to 200).map(i => (i % 8).toLong).toDF("k")   // 8 distinct
    val hi = (1 to 2000).map(_.toLong).toDF("k")             // 2000 distinct
    val (_, dLo, wLo) = Cms.sketchAuto(lo, "k", exactProbe = true)
    val (skHi, dHi, wHi) = Cms.sketchAuto(hi, "k", exactProbe = true)
    assert((dLo, wLo) === ((4, 256)))
    assert(wHi > wLo, s"higher cardinality must widen the sketch: $wHi <= $wLo")
    // at the laddered size estimates are exact, not just eps-N bounded
    val est = Cms.estimate(skHi, hi, "k", dHi, wHi)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.values.forall(_ == 1L), "laddered width must make unsaturated estimates exact")
  }

  test("Blocking: histogram-first SNM rank == row_number; pairs == brute rank-distance; nulls excluded") {
    import graft.ops.Blocking
    import org.apache.spark.sql.expressions.Window
    // heavy ties + a null key + non-contiguous ids, across partitions
    val df = Seq(
      (10L, Some(5L)), (11L, Some(5L)), (12L, Some(5L)), (13L, Some(1L)),
      (14L, Some(9L)), (15L, Some(9L)), (16L, Some(2L)), (17L, None),
      (18L, Some(7L)), (19L, Some(7L)), (20L, Some(3L)), (21L, Some(8L)),
    ).toDF("id", "k").repartition(5)
    val viaHist = Blocking.snmRank(df, "k", "id").select("id", "rank")
    val viaWindow = df.filter(col("k").isNotNull).select(
      col("id"),
      (row_number().over(Window.orderBy(col("k"), col("id"))) - 1).cast("long").as("rank"),
    )
    assert(viaHist.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaHist).isEmpty)
    assert(viaHist.count() === 11L, "the null-key row must be excluded, nothing else")

    // pair generation: the two-block equi-join must reproduce the brute
    // rank-distance join exactly — including pairs straddling a block
    // boundary (w=3 over 11 ranks has boundaries at 3, 6, 9)
    def pairSet(p: org.apache.spark.sql.DataFrame) = p.select("a_id", "b_id", "gap")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = pairSet(Blocking.snmPairs(df, "k", "id", window = 3))
    val r   = viaWindow.collect().map(x => x.getLong(0) -> x.getLong(1))
    val brute = (for {
      (ia, ra) <- r; (ib, rb) <- r
      if rb > ra && rb < ra + 3
    } yield (ia, ib, rb - ra)).toSet
    assert(got === brute)
    assert(got.exists { case (_, _, g) => g == 2L }, "window > adjacency must contribute pairs")
  }

  test("Blocking.snmRank: high-cardinality key — tiered cumulative stays correct and parallel") {
    import graft.ops.Blocking
    import org.apache.spark.sql.expressions.Window
    // the SNM worst case the r11 verdict flagged: a CONTINUOUS key
    // (every value distinct), so the histogram is corpus-sized and a
    // naive unpartitioned cumulative window would gather the whole
    // corpus onto one task.
    val df = (1 to 500)
      .map(i => (i.toLong, f"name_${(i * 7919) % 1000}%04d_$i"))
      .toDF("id", "k")
      .repartition(7)
    val got = Blocking.snmRank(df, "k", "id").select("id", "rank")
    val want = df.select(
      col("id"),
      (row_number().over(Window.orderBy(col("k"), col("id"))) - 1).cast("long").as("rank"),
    )
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // plan shape: the histogram cumulative runs over RANGE partitions
    // (parallel) — pinned on the pre-checkpoint stage directly, since
    // snmRank's localCheckpoint (which guarantees the two __pid
    // consumers read ONE materialization) truncates lineage and hides
    // it downstream.
    val cumPlan = Blocking
      .snmLocalCumulative(df.filter(col("k").isNotNull), "k")
      .queryExecution
      .executedPlan
      .toString
    assert(cumPlan.contains("rangepartitioning("), s"histogram must range-partition:\n$cumPlan")
    assert(!cumPlan.contains("SinglePartition"), s"cumulative stage must stay parallel:\n$cumPlan")
    // downstream: the only unpartitioned window is the P-row offset
    // table, and the shared cumulative arrives as a materialized scan.
    val plan = got.queryExecution.executedPlan.toString
    assert(
      "SinglePartition".r.findAllIn(plan).length === 1,
      s"only the P-row offset window may gather:\n$plan",
    )
    assert(
      plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"the shared __pid cumulative must be a materialized fact, not a re-derived subplan:\n$plan",
    )
  }

  test("Text.invertedIndex: df/cf exact, postings ascending, cap truncates to lowest ids") {
    val docs = Seq(
      (3L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "apple"),
      (4L, "banana banana"),
    ).toDF("doc_id", "text")
    val idx = Text.invertedIndex(docs, "doc_id", "text", cap = 2)
      .collect()
      .map(r => r.getAs[String]("term") ->
        ((r.getAs[Long]("df"), r.getAs[Long]("cf"), r.getAs[Seq[Long]]("postings"))))
      .toMap
    assert(idx("apple") === ((3L, 4L, Seq(1L, 2L)))) // df 3 > cap 2: lowest two ids kept
    assert(idx("banana") === ((2L, 3L, Seq(3L, 4L))))
    assert(idx("cherry") === ((1L, 1L, Seq(1L))))
  }

  test("Text.wordpieceTokenize: greedy longest match, continuations, both UNK paths") {
    val vocab = Seq(
      "un", "##aff", "##able", "##ffa", "a", "b", "##a", "##b", "hug", "##s", "h", "##ug",
    ).toDF("piece")
    val words = Seq("unaffable", "hugs", "hug", "abab", "zebra", "verylongword").toDF("word")
    val got = Text.wordpieceTokenize(words, vocab, maxWordLen = 10)
      .collect()
      .map(r => r.getString(0) -> ((r.getSeq[String](1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // the classic BERT example: greedy longest at every position —
    // 'un' (not 'u'), then '##aff' beats '##a', then '##able'
    assert(got("unaffable") === ((Seq("un", "##aff", "##able"), 3L, false)))
    // 'hug' (3) beats 'h' (1) at position 0
    assert(got("hugs") === ((Seq("hug", "##s"), 2L, false)))
    assert(got("hug") === ((Seq("hug"), 1L, false)))
    // base piece at 0, continuation pieces after
    assert(got("abab") === ((Seq("a", "##b", "##a", "##b"), 4L, false)))
    // mid-word failure ('z' not in vocab): the WHOLE word is one [UNK]
    assert(got("zebra") === ((Seq("[UNK]"), 1L, true)))
    // longer than maxWordLen: [UNK] without consuming any piece
    assert(got("verylongword") === ((Seq("[UNK]"), 1L, true)))
    assert(got.size === 6)
  }

  test("Attribution: linear credit conserves cents; first/last deterministic; window binds") {
    def ev(id: Long, user: Long, day: Int, typ: String, value: Double) =
      (id, user, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), typ, value)
    val events = Seq(
      ev(1, 7, 1, "click", 0.0),    // 9 days before conversion: OUTSIDE the 7-day window
      ev(2, 7, 5, "click", 0.0),    // first credited touch
      ev(3, 7, 6, "view", 0.0),
      ev(4, 7, 8, "click", 0.0),    // last credited touch (gets the remainder)
      ev(5, 7, 10, "purchase", 1.0), // 100 cents over 3 touches: 33/33/34
      ev(6, 9, 2, "purchase", 5.0),  // conversion with no touches: unattributable
      ev(7, 7, 20, "view", 0.0),     // touch after every conversion: no credit
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = Attribution.attribute(events, "purchase", Seq("click", "view"), 7)
      .collect()
      .map(r => r.getAs[Long]("touch_id") ->
        ((r.getAs[Long]("n_conversions"), r.getAs[Long]("linear_cents"),
          r.getAs[Long]("first_cents"), r.getAs[Long]("last_cents"))))
      .toMap
    assert(got.keySet === Set(2L, 3L, 4L)) // 1 outside window, 7 after, 6 untouched
    assert(got(2L) === ((1L, 33L, 100L, 0L)))
    assert(got(3L) === ((1L, 33L, 0L, 0L)))
    assert(got(4L) === ((1L, 34L, 0L, 100L))) // remainder lands on the last touch
    assert(got.values.map(_._2).sum === 100L) // linear credit conserves exactly
  }

  test("Basket.frequentPairs: support/conf/lift integers; oversize basket drops from ALL counts") {
    val rows = Seq(
      // basket 1..3 each {10, 20}; basket 4 {10, 30}; basket 5 oversize (4 items > cap 3)
      (1L, 10L), (1L, 20L),
      (2L, 10L), (2L, 20L), (2L, 20L), // duplicate (2,20) must not inflate counts
      (3L, 10L), (3L, 20L),
      (4L, 10L), (4L, 30L),
      (5L, 10L), (5L, 20L), (5L, 30L), (5L, 40L),
    ).toDF("basket", "item")
    val got = Basket.frequentPairs(rows, minSupport = 2, maxBasketSize = 3)
      .collect()
      .map(r => (r.getAs[Long]("p1"), r.getAs[Long]("p2")) ->
        ((r.getAs[Long]("pair_cnt"), r.getAs[Long]("c1"), r.getAs[Long]("c2"),
          r.getAs[Long]("conf1_ppm"), r.getAs[Long]("conf2_ppm"), r.getAs[Long]("lift_ppm"))))
      .toMap
    // capped universe: baskets 1-4 only → c(10)=4, c(20)=3, c(30)=1, nb=4
    assert(got.keySet === Set((10L, 20L))) // (10,30) support 1 < 2
    val (cnt, c1, c2, conf1, conf2, lift) = got((10L, 20L))
    assert((cnt, c1, c2) === ((3L, 4L, 3L)))
    assert(conf1 === 750000L) // 3/4
    assert(conf2 === 1000000L) // 3/3
    assert(lift === 1000000L) // 3·4/(4·3)
  }

  test("Stats.skewReport: exact ranks, shares, and global context; top-k binds") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val rows = Stats.skewReport(df, "k", topK = 2)
      .collect().map(r => r.getAs[Int]("rank") ->
        ((r.getAs[String]("key"), r.getAs[Long]("cnt"), r.getAs[Long]("share_ppm"),
          r.getAs[Long]("total"), r.getAs[Long]("n_keys"), r.getAs[Long]("max_cnt"))))
      .toMap
    assert(rows.keySet === Set(1, 2)) // k=2 binds: 'c' excluded
    assert(rows(1) === (("a", 6L, 600000L, 10L, 3L, 6L)))
    assert(rows(2) === (("b", 3L, 300000L, 10L, 3L, 6L)))
  }

  test("Cdc.snapshotDiff: added/removed/changed/unchanged classified per key") {
    val old_ = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "payload")
    val new_ = Seq((2L, "y"), (3L, "z2"), (4L, "w")).toDF("id", "payload")
    val got = Cdc.snapshotDiff(old_, new_, "id", Seq("payload"))
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[String]("status")).toMap
    assert(got === Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
  }

  test("Cdc.snapshotDiff: value shifts across columns and null-vs-'' are CHANGED, not collisions") {
    // undelimited hashing collides ('ab','') with ('a','b'); undistinguished
    // nulls collide (null) with (''). Both must classify as 'changed'.
    val old_ = Seq((1L, Some("ab"), Some("")), (2L, None: Option[String], Some("q")))
      .toDF("id", "c1", "c2")
    val new_ = Seq((1L, Some("a"), Some("b")), (2L, Some(""), Some("q")))
      .toDF("id", "c1", "c2")
    val got = Cdc.snapshotDiff(old_, new_, "id", Seq("c1", "c2"))
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[String]("status")).toMap
    assert(got === Map(1L -> "changed", 2L -> "changed"))
  }

  test("Intervals.merge: overlap and touch coalesce, gaps split, coverage counts overlaps once") {
    val iv = Seq(
      // key "u": [0,10) [5,15) overlap → [0,15); [15,20) touches → [0,20); [30,40) gap
      ("u", 0L, 10L), ("u", 5L, 15L), ("u", 15L, 20L), ("u", 30L, 40L),
      // key "v": containment — [0,100) swallows [10,20)
      ("v", 0L, 100L), ("v", 10L, 20L),
    ).toDF("k", "s", "e")
    val got = Intervals.merge(iv, Seq("k"), "s", "e")
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("start"), r.getAs[Long]("end"),
        r.getAs[Long]("n_rows")))
      .toSet
    assert(got === Set(("u", 0L, 20L, 3L), ("u", 30L, 40L, 1L), ("v", 0L, 100L, 2L)))
  }

  test("Ivm.joinDelta: delta ∪ stored view == full join; cross term ΔA⋈ΔB included") {
    import graft.ops.Ivm
    val aOld = Seq((1L, "a1"), (2L, "a2"), (2L, "a2b")).toDF("k", "av")
    val dA   = Seq((2L, "a3"), (3L, "a4"), (9L, "a5")).toDF("k", "av") // 9 joins ONLY via ΔB
    val bOld = Seq((1L, "b1"), (2L, "b2")).toDF("k", "bv")
    val dB   = Seq((2L, "b3"), (9L, "b4")).toDF("k", "bv") // 2: both-sides delta; 9: new key
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "av", "bv").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    val delta = Ivm.joinDelta(aOld, dA, bOld, dB, Seq("k"))
    val full  = aOld.unionByName(dA).join(bOld.unionByName(dB), Seq("k"))
    val storedView = aOld.join(bOld, Seq("k"))
    assert(canon(storedView.unionByName(delta)) === canon(full))
    // the ΔA⋈ΔB cross term specifically: (9, a5, b4) exists in no other term
    assert(canon(delta).contains((9L, "a5", "b4")))
    // delta rows are disjoint from the stored view (no double counting)
    assert(canon(delta).intersect(canon(storedView)).isEmpty)
  }

  test("Ivm: maintain == full recompute; merge closure over batches; no base rescan from a stored table") {
    import graft.ops.Ivm
    def batch(rows: (String, Option[Long])*) = rows.toDF("k", "v")
    val b1 = batch("a" -> Some(10L), "a" -> Some(2L), "b" -> Some(5L), "c" -> None)
    val b2 = batch("a" -> Some(7L), "d" -> Some(100L)) // d: new key; b,c: quiet keys
    val b3 = batch("c" -> None, "b" -> Some(-3L))      // c stays all-null through merges
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "cnt", "sum_v", "min_v", "max_v").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap

    // closure: ((summarize b1 ∪ b2) ∪ b3) == summarize(b1 ∪ b2 ∪ b3)
    val incremental = Ivm.maintain(
      Ivm.maintain(Ivm.summarize(b1, Seq("k"), Seq("v")), b2, Seq("k"), Seq("v")),
      b3, Seq("k"), Seq("v"))
    val full = Ivm.summarize(b1.unionByName(b2).unionByName(b3), Seq("k"), Seq("v"))
    assert(canon(incremental) === canon(full))
    val got = canon(incremental)
    assert(got("d") === ((1L, Some(100L), Some(100L), Some(100L))), "delta-only key passes through")
    assert(got("c") === ((2L, None, None, None)), "all-null group stays null, never 0")
    assert(got("b") === ((2L, Some(2L), Some(-3L), Some(5L))))

    // refresh from a STORED aggregate: the physical plan scans exactly
    // the stored summary and the delta — the base rows never appear
    val dir = java.nio.file.Files.createTempDirectory("ivm").toString
    Ivm.summarize(b1, Seq("k"), Seq("v")).write.mode("overwrite").parquet(s"$dir/agg")
    val refreshed = Ivm.maintain(
      spark.read.parquet(s"$dir/agg"), b2.unionByName(b3), Seq("k"), Seq("v"))
    assert(canon(refreshed) === canon(full))
    // AQE wraps stages in leaf nodes — walk through them (the
    // PlanSpec.numFiles convention) before collecting file scans
    def fileScans(n: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
      val self =
        if (n.children.isEmpty && n.nodeName.toLowerCase.contains("scan") &&
          n.toString.toLowerCase.contains("parquet")) Seq(n.toString)
        else Nil
      val kids = n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case sq: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(sq.plan)
        case other                                                      => other.children
      }
      self ++ kids.flatMap(fileScans)
    }
    val scans = fileScans(refreshed.queryExecution.executedPlan)
    assert(scans.length === 1 && scans.head.contains("agg"),
      s"the only file scan must be the stored aggregate (deltas here are local relations): $scans")
  }

  test("KMV: bounded k-min-distinct equals distinct-sort-limit; overlap exact unsaturated, bounded saturated") {
    // the aggregation kernel: heavy duplication across many partitions
    // must produce exactly the globally smallest k DISTINCT values
    val vals = (1 to 500).map(i => (i % 97).toLong * 1000003L)
    val got = vals.toDF("h").repartition(13)
      .select(graft.functions.KMinAgg.k_min_distinct(16)(col("h")))
      .head().getSeq[Long](0)
    assert(got === vals.map(_.toLong).distinct.sorted.take(16))

    // unsaturated sketches ARE the distinct sets: every estimate exact
    val r1 = Kmv.overlap((1L to 40L).toDF("k"), (21L to 60L).toDF("k"), "k", 256).head()
    assert(r1.getAs[Long]("est_a") === 40L && r1.getAs[Long]("est_b") === 40L)
    assert(r1.getAs[Long]("est_union") === 60L)
    assert(r1.getAs[Long]("inter_in_k") === 20L)
    assert(r1.getAs[Long]("jaccard_ppm") === 333333L) // (20 * 1e6) div 60
    assert(r1.getAs[Long]("est_intersection") === 20L)

    // saturated: the order-statistic estimator lands inside the
    // ~1/sqrt(k) envelope on every derived quantity
    val r2 = Kmv.overlap((1L to 20000L).toDF("k"), (10001L to 30000L).toDF("k"), "k", 1024).head()
    def within(est: Long, truth: Long, tol: Double) =
      assert(math.abs(est - truth) <= truth * tol, s"estimate $est vs $truth (tol $tol)")
    within(r2.getAs[Long]("est_a"), 20000L, 0.15)
    within(r2.getAs[Long]("est_b"), 20000L, 0.15)
    within(r2.getAs[Long]("est_union"), 30000L, 0.15)
    within(r2.getAs[Long]("jaccard_ppm"), 333333L, 0.25)
    within(r2.getAs[Long]("est_intersection"), 10000L, 0.30)
  }

  test("scd2Init: valid_to takes ts's own type (timestamp ts => timestamp valid_to)") {
    val snap = Seq((1L, "a")).toDF("k", "v")
    val init = Scd.scd2Init(snap, Seq("k"), Seq("v"), timestamp_millis(lit(1000L)))
    assert(init.schema("valid_from").dataType === init.schema("valid_to").dataType)
    assert(init.schema("valid_to").dataType.typeName === "timestamp")
    val initD = Scd.scd2Init(snap, Seq("k"), Seq("v"), to_date(lit("2024-01-01")))
    assert(initD.schema("valid_to").dataType.typeName === "date")
  }

  test("Timeseries.resampleDailyLocf: gaps fill with last observation, leading days stay null") {
    // key 1 active on days 1 and 4 of a 1..5 global span (key 2 fixes the
    // span); expect day 2-3 carried from day 1, day 5 carried from day 4,
    // and for key 2 the days BEFORE its first observation null-filled.
    def ts(day: Int) = s"2024-01-0$day 12:00:00"
    val df = Seq(
      (1L, ts(1)), (1L, ts(1)), (1L, ts(4)),
      (2L, ts(3)), (2L, ts(5)),
    ).toDF("k", "ts").withColumn("ts", to_timestamp(col("ts")))
    val got = Timeseries
      .resampleDailyLocf(df, "k", "ts")
      .collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[java.sql.Date]("day").toString.takeRight(2)) ->
        (Option(r.getAs[Any]("n")), Option(r.getAs[Any]("n_filled")), r.getAs[Boolean]("observed")))
      .toMap
    assert(got.size === 10) // 2 keys x 5-day global span
    assert(got((1L, "01")) === (Some(2L), Some(2L), true))
    assert(got((1L, "02")) === (None, Some(2L), false))  // gap: carried
    assert(got((1L, "03")) === (None, Some(2L), false))
    assert(got((1L, "04")) === (Some(1L), Some(1L), true))
    assert(got((1L, "05")) === (None, Some(1L), false))
    assert(got((2L, "01")) === (None, None, false))      // before first obs: nothing to carry
    assert(got((2L, "02")) === (None, None, false))
    assert(got((2L, "03")) === (Some(1L), Some(1L), true))
  }

  test("Timeseries.cusumHourly: sustained excess alarms, quiet hours drain to zero") {
    // One key, 8-hour span: hours 1-4 at the mean, hours 5-6 spike, then
    // quiet. With slack 1/1 (allowance = mean) and threshold 1 the
    // recursion is easy to hand-check.
    def ts(h: Int, m: Int = 0) = to_timestamp(lit(f"2024-01-01 $h%02d:$m%02d:00"))
    val rows = Seq.tabulate(8) { h => (h + 1, if (h == 4 || h == 5) 7 else 1) }
    val df = rows
      .flatMap { case (h, n) => Seq.fill(n)(h) }
      .toDF("h")
      .withColumn("k", lit("a"))
      .withColumn("ts", to_timestamp(format_string("2024-01-01 %02d:00:00", col("h"))))
    val got = Timeseries
      .cusumHourly(df, "k", "ts", slackNum = 1, slackDen = 1, thresholdMult = 1)
      .orderBy("hour_ts")
      .collect()
    // total = 20, hh = 8, mean*hh = 20; deviations n*8 - 20
    val s = got.map(_.getAs[Long]("s_scaled")).toSeq
    assert(s === Seq(0L, 0L, 0L, 0L, 36L, 72L, 60L, 48L))
    val alarms = got.map(_.getAs[Boolean]("alarm")).toSeq
    assert(alarms === Seq(false, false, false, false, true, true, true, true)) // > 1*total=20
    val _ = ts(1) // keep helper used
  }

  test("Timeseries.ewmaHourly: init-to-first, integer recursion, gap hours decay toward zero") {
    // One key, hours 1..4 with counts 4, 0 (gap), 0 (gap), 2; α = 0.5.
    // s1 = 4e6; s2 = 0 + 0.5*4e6 = 2e6; s3 = 1e6; s4 = 0.5*2e6 + 0.5e6 = 1.5e6.
    val df = (Seq.fill(4)(1) ++ Seq.fill(2)(4))
      .toDF("h")
      .withColumn("k", lit("a"))
      .withColumn("ts", to_timestamp(format_string("2024-01-01 %02d:00:00", col("h"))))
    val got = Timeseries
      .ewmaHourly(df, "k", "ts", alphaPpm = 500000)
      .orderBy("hour_ts")
      .collect()
    assert(got.map(_.getAs[Long]("n")).toSeq === Seq(4L, 0L, 0L, 2L))
    assert(got.map(_.getAs[Long]("ewma_scaled")).toSeq ===
      Seq(4000000L, 2000000L, 1000000L, 1500000L))
  }

  test("Timeseries.ewmaFromHourly: floor division is exact; huge counts survive the DECIMAL product") {
    // 3 hours, counts 1,1,1 at α=1/3 (333333 ppm): s1=1e6,
    // s2 = 333333 + (666667*1e6) div 1e6 = 1000000, s3 same — the
    // all-equal fixpoint holds under floor division.
    val hourly = Seq(
      ("k", java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1L),
      ("k", java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 1L),
      ("k", java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), 1L),
      // second key: counts past the BIGINT-product wrap point — the
      // (1e6−α)·s multiply MUST run through DECIMAL(38,0):
      // s1 = 2e13·1e6 = 2e19 > 2^63 would already wrap as a product
      // chain without the decimal route; use 2e10 so s fits BIGINT but
      // the transient product 666667·2e16 ≈ 1.3e22 does not.
      ("big", java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 20000000000L),
      ("big", java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 20000000000L),
      ("big", java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), 20000000000L),
    ).toDF("key", "hour_ts", "n")
    val rows = Timeseries.ewmaFromHourly(hourly, alphaPpm = 333333).collect()
    val byKey = rows.groupBy(_.getAs[String]("key"))
    val small = byKey("k").sortBy(_.getAs[java.sql.Timestamp]("hour_ts").getTime)
      .map(_.getAs[Long]("ewma_scaled")).toSeq
    assert(small === Seq(1000000L, 1000000L, 1000000L))
    val big = byKey("big").sortBy(_.getAs[java.sql.Timestamp]("hour_ts").getTime)
      .map(_.getAs[Long]("ewma_scaled")).toSeq
    // s1 = 2e10·1e6 = 2e16; fixpoint: α·n + floor((1e6−α)s/1e6):
    // 333333·2e10 + floor(666667·2e16/1e6) = 6.66666e15 + 1.333334e16 = 2e16
    assert(big.head === 20000000000000000L)
    assert(big.forall(_ >= 19999999999999999L), s"fixpoint drifted: $big")
  }

  test("Timeseries.holtFromHourly: hand-computed series; negative trend FLOORS (not truncates)") {
    // α=0.3, β=0.125; n = 4, 1, 0:
    //   t1: L=4e6, B=0
    //   t2: L = 300000 + fd(700000·4e6)        = 3100000
    //       B = fd(125000·(3100000−4000000))   = −112500   (exact)
    //   t3: L = fd(700000·(3100000−112500))    = 2091250
    //       B = fd(125000·(2091250−3100000) + 875000·(−112500))
    //         = fd(−224531250000) = −224532    ← floor; truncation
    //           toward zero would give −224531 and diverge from
    //           DuckDB's flooring `//` forever after.
    val hourly = Seq(
      ("k", java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 4L),
      ("k", java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 1L),
      ("k", java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), 0L),
    ).toDF("key", "hour_ts", "n")
    val rows = Timeseries
      .holtFromHourly(hourly, alphaPpm = 300000, betaPpm = 125000)
      .collect()
      .sortBy(_.getAs[java.sql.Timestamp]("hour_ts").getTime)
    assert(rows.map(_.getAs[Long]("level_scaled")).toSeq ===
      Seq(4000000L, 3100000L, 2091250L))
    assert(rows.map(_.getAs[Long]("trend_scaled")).toSeq ===
      Seq(0L, -112500L, -224532L))
    assert(rows.map(_.getAs[Long]("forecast_scaled")).toSeq ===
      Seq(4000000L, 2987500L, 1866718L))
    // silent grid hours are part of the recursion (dense fill):
    val gapped = Seq(
      ("g", java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 2L),
      ("g", java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), 2L),
    ).toDF("key", "hour_ts", "n")
    val g = Timeseries.holtFromHourly(gapped).collect()
    assert(g.length === 3) // hour 02 filled with n=0
  }

  test("Timeseries.holtWintersFromHourly: hand-computed series; seasonal lookback reads m steps back") {
    // α=β=γ=0.5, period=2; n = 4, 1, 0, 2:
    //   t1: L=4e6, B=0, S=0
    //   t2: sp=0 (cold start) → L = fd(.5·1e6 + .5·4e6) = 2500000
    //       B = fd(.5·(2500000−4000000)) = −750000, S = fd(.5·(1e6−2500000)) = −750000
    //   t3: sp = S₁ = 0 → L = fd(.5·(2500000−750000)) = 875000
    //       B = fd(.5·(875000−2500000) + .5·(−750000)) = −1187500
    //       S = fd(.5·(0−875000)) = −437500
    //   t4: sp = S₂ = −750000 → L = fd(.5·(2e6+750000) + .5·(875000−1187500)) = 1218750
    //       B = fd(.5·(1218750−875000) + .5·(−1187500)) = −421875
    //       S = fd(.5·(2e6−1218750) + .5·(−750000)) = 15625
    val hourly = Seq(
      ("k", java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 4L),
      ("k", java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 1L),
      ("k", java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), 0L),
      ("k", java.sql.Timestamp.valueOf("2024-01-01 04:00:00"), 2L),
    ).toDF("key", "hour_ts", "n")
    val rows = Timeseries
      .holtWintersFromHourly(hourly, alphaPpm = 500000, betaPpm = 500000,
        gammaPpm = 500000, period = 2)
      .collect()
      .sortBy(_.getAs[java.sql.Timestamp]("hour_ts").getTime)
    assert(rows.map(_.getAs[Long]("level_scaled")).toSeq ===
      Seq(4000000L, 2500000L, 875000L, 1218750L))
    assert(rows.map(_.getAs[Long]("trend_scaled")).toSeq ===
      Seq(0L, -750000L, -1187500L, -421875L))
    assert(rows.map(_.getAs[Long]("seasonal_scaled")).toSeq ===
      Seq(0L, -750000L, -437500L, 15625L))
    // before a full period has passed the recursion IS Holt (sp = 0):
    val holt = Timeseries
      .holtFromHourly(hourly.limit(2), alphaPpm = 500000, betaPpm = 500000)
      .collect()
      .sortBy(_.getAs[java.sql.Timestamp]("hour_ts").getTime)
    assert(holt.map(_.getAs[Long]("level_scaled")).toSeq === Seq(4000000L, 2500000L))
  }

  test("Stats.ksStatistic + mannWhitneyU: hand-computed two-sample statistics, tie-exact") {
    // sample1 = {1,2,2}, sample2 = {2,3}: n1=3, n2=2.
    // cums: v=1 (1,0), v=2 (3,1), v=3 (3,2);
    // |cum1·n2 − cum2·n1| = 2, 3, 0 → D = 3/6 (ppm 500000).
    val df = Seq((1L, true), (2L, true), (2L, true), (2L, false), (3L, false))
      .toDF("v", "is1")
    val ks = Stats.ksStatistic(df, col("v"), col("is1")).collect().head
    assert(ks.getAs[Long]("n1") === 3L)
    assert(ks.getAs[Long]("n2") === 2L)
    assert(ks.getAs[Long]("d_num") === 3L)
    assert(ks.getAs[Long]("d_ppm") === 500000L)
    // doubled midranks: v=1 → 2, v=2 tie group of 3 after cum 1 → 6;
    // R1·2 = 1·2 + 2·6 = 14; U1·2 = 14 − 3·4 = 2 (U1 = two half-ties);
    // U2·2 = 2·3·2 − 2 = 10.
    val mw = Stats.mannWhitneyU(df, col("v"), col("is1")).collect().head
    assert(mw.getAs[Long]("n1") === 3L)
    assert(mw.getAs[Long]("n2") === 2L)
    assert(mw.getAs[Long]("u1_x2") === 2L)
    assert(mw.getAs[Long]("u2_x2") === 10L)
    // null values are excluded from both samples, not ranked:
    val withNull = Seq((Some(1L), true), (None, true), (Some(2L), false))
      .toDF("v", "is1")
    val ks2 = Stats.ksStatistic(withNull, col("v"), col("is1")).collect().head
    assert(ks2.getAs[Long]("n1") === 1L)
    assert(ks2.getAs[Long]("n2") === 1L)
    assert(ks2.getAs[Long]("d_num") === 1L)
    // a NULL sample flag is complete-case dropped, not counted as sample 2:
    val nullFlag = Seq((Some(1L), Some(true)), (Some(5L), None), (Some(2L), Some(false)))
      .toDF("v", "is1")
    val ks3 = Stats.ksStatistic(nullFlag, col("v"), col("is1")).collect().head
    assert(ks3.getAs[Long]("n1") === 1L)
    assert(ks3.getAs[Long]("n2") === 1L)
  }

  test("Similarity.topEigenvector: diagonal Gram converges to the dominant axis; orthogonal start is a stable zero") {
    // 3 copies of (2,0) + 1 copy of (0,1): Gram = [[12,0],[0,1]].
    // v0 = (1e6, 1e6); each round divides dim 1 by 12 (truncating):
    // 83333, 6944, 578.
    val vecs = (Seq.fill(3)(Seq(2L, 0L)) :+ Seq(0L, 1L)).toDF("v")
    val got = Similarity
      .topEigenvector(vecs, "v", d = 2, rounds = 3)
      .collect()
      .map(r => r.getAs[Long]("dim") -> r.getAs[Long]("v_ppm"))
      .toMap
    assert(got === Map(0L -> 1000000L, 1L -> 578L))
    // (1,-1) twice: Gram = [[2,-2],[-2,2]]; the all-ones start is
    // exactly orthogonal to the dominant eigenvector, so w = 0 — the
    // guard divides by 1 and the iterate stays at zero (deterministic,
    // documented degenerate case).
    val ortho = Seq(Seq(1L, -1L), Seq(1L, -1L)).toDF("v")
    val z = Similarity
      .topEigenvector(ortho, "v", d = 2, rounds = 2)
      .collect()
      .map(_.getAs[Long]("v_ppm"))
      .toSet
    assert(z === Set(0L))
  }

  test("Eval.reciprocalRank: hit rank r gives 1e6 div r, miss gives 0") {
    val truth  = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("q_id", "n_id")
    val ranked = Seq((1L, 10L, 1), (2L, 99L, 1), (2L, 20L, 3), (3L, 31L, 1))
      .toDF("q_id", "n_id", "rnk")
    val got = Eval
      .reciprocalRank(truth, ranked)
      .collect()
      .map(r => r.getAs[Long]("q_id") ->
        ((r.getAs[Long]("found_rank"), r.getAs[Long]("rr_ppm"))))
      .toMap
    assert(got(1L) === ((1L, 1000000L)))
    assert(got(2L) === ((3L, 333333L)))
    assert(got(3L) === ((0L, 0L))) // truth absent from the list
  }

  test("Multimodal.aspectBuckets: nearest-ratio assignment, exact score, square and extreme shapes") {
    val ladder = Seq((512, 2048), (1024, 1024), (2048, 512))
    val dims = Seq(
      (1L, 1000L, 1000L), // square -> bucket 1, score 0
      (2L, 300L, 1200L),  // 1:4 exactly -> bucket 0, score 0
      (3L, 900L, 800L),   // 1.125:1 -> nearest is square
    ).toDF("id", "w", "h")
    val got = Multimodal
      .aspectBuckets(dims, "id", "w", "h", ladder)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Int]("bucket_id"), r.getAs[Long]("score_e9"))))
      .toMap
    assert(got(1L) === ((1, 0L)))
    assert(got(2L) === ((0, 0L)))
    // bucket 1 score: |900*1024 - 800*1024|*1e9 / (800*1024) = 125000000
    assert(got(3L) === ((1, 125000000L)))
  }

  test("Text.readability: hand-counted FK grade; negative numerator floors; empty text gives NULL grade") {
    val docs = Seq(
      // "The cat sat. It ran." -> W=5 S=2; syllables all 1 -> Y=5
      // num = 39*25 + 1180*5*2 - 1559*2*5 = 975 + 11800 - 15590 = -2815
      // grade_ppm = floor(-2815 * 10000 / 10) = -2815000
      (1L, "The cat sat. It ran."),
      (2L, ""), // no words, no sentences -> NULL grade
    ).toDF("doc_id", "text")
    val got = Text
      .readability(docs, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r)
      .toMap
    assert(got(1L).getAs[Long]("n_words") === 5L)
    assert(got(1L).getAs[Long]("n_sentences") === 2L)
    assert(got(1L).getAs[Long]("n_syllables") === 5L)
    assert(got(1L).getAs[Long]("fk_grade_ppm") === -2815000L)
    assert(got(2L).getAs[Long]("n_words") === 0L)
    assert(got(2L).isNullAt(got(2L).fieldIndex("fk_grade_ppm")))
  }

  test("Text.ngramOverlap: clipping against the reference multiset; unmatched grams score zero") {
    // cand repeats "a" 4x but ref has "a" only twice -> clipped to 2
    val cand = Seq((1L, "a a a a b")).toDF("id", "text")
    val ref  = Seq((2L, "a a c")).toDF("id", "text")
    val got = Text
      .ngramOverlap(cand, ref, "text", ns = Seq(1, 2))
      .collect()
      .map(r => r.getAs[Int]("n") ->
        ((r.getAs[Long]("cand_ngrams"), r.getAs[Long]("matched_ngrams"),
          r.getAs[Long]("precision_ppm"))))
      .toMap
    assert(got(1) === ((5L, 2L, 400000L)))
    // cand 2-grams: "a a"x3, "a b"; ref: "a a", "a c" -> matched 1
    assert(got(2) === ((4L, 1L, 250000L)))
  }

  test("Eval.linkageReport: exact ppm precision/recall; empty matches give zeros, not NULLs") {
    val queries = Seq(1L, 2L, 3L, 4L).toDF("dirty_id")
    val matches = Seq((1L, 1L), (2L, 9L), (3L, 3L)).toDF("dirty_id", "canon_id")
    val r = Eval
      .linkageReport(matches, col("dirty_id") === col("canon_id"), queries)
      .collect()
      .head
    assert(r.getAs[Long]("n_queries") === 4L)
    assert(r.getAs[Long]("n_matched") === 3L)
    assert(r.getAs[Long]("n_correct") === 2L)
    assert(r.getAs[Long]("precision_ppm") === 666666L) // 2e6 div 3
    assert(r.getAs[Long]("recall_ppm") === 500000L)    // 2e6 div 4
    // matcher that matched NOTHING: sum over zero rows must not leak NULL
    val empty = matches.filter(col("dirty_id") < 0L)
    val e = Eval
      .linkageReport(empty, col("dirty_id") === col("canon_id"), queries)
      .collect()
      .head
    assert(e.getAs[Long]("n_matched") === 0L)
    assert(e.getAs[Long]("n_correct") === 0L)
    assert(e.getAs[Long]("precision_ppm") === 0L)
    assert(e.getAs[Long]("recall_ppm") === 0L)
  }

  test("Eval.averagePrecision: exact rational AP terms, zero-hit queries kept") {
    // q1: truth {10,20,30}; hits at ranks 1 and 3 ->
    //   AP = (1/1 + 2/3)/3 = 5/9; scaled by lcm(1..3)=6: num 6+4=10, den 18
    // q2: truth {40}; no hits -> num 0, den 6
    val truth  = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 40L)).toDF("q_id", "n_id")
    val ranked = Seq((1L, 10L, 1), (1L, 99L, 2), (1L, 20L, 3), (2L, 41L, 1))
      .toDF("q_id", "n_id", "rnk")
    val got = Eval
      .averagePrecision(truth, ranked, k = 3)
      .collect()
      .map(r => r.getAs[Long]("q_id") ->
        ((r.getAs[Long]("n_rel"), r.getAs[Long]("hits"),
          r.getAs[Long]("ap_num"), r.getAs[Long]("ap_den"))))
      .toMap
    assert(got(1L) === ((3L, 2L, 10L, 18L)))
    assert(got(2L) === ((1L, 0L, 0L, 6L)))
    // perfect ranking: AP = 1 exactly -> num == den
    val perfect = Eval
      .averagePrecision(
        Seq((9L, 1L), (9L, 2L)).toDF("q_id", "n_id"),
        Seq((9L, 1L, 1), (9L, 2L, 2)).toDF("q_id", "n_id", "rnk"),
        k = 3,
      )
      .head()
    assert(perfect.getAs[Long]("ap_num") * 1L === perfect.getAs[Long]("n_rel") * 6L)
    assert(perfect.getAs[Long]("ap_den") === perfect.getAs[Long]("n_rel") * 6L)
  }

  test("Timeseries.seasonalOutliers: hour-of-day means include silent grid hours; spike flags exactly") {
    // One key, 3 days, one event-burst at day 3 hour 02 (9 events),
    // plus 1 event at hour 00 of each day to anchor the span.
    val rows =
      Seq("2024-01-01 00:00:00", "2024-01-02 00:00:00", "2024-01-03 00:00:00") ++
        Seq.fill(9)("2024-01-03 02:00:00")
    val df  = rows.toDF("s").select(to_timestamp(col("s")).as("ts")).withColumn("k", lit("a"))
    val got = Timeseries.seasonalOutliers(df, "k", "ts", mult = 2).collect()
    // span covers 2024-01-01 00:00 .. 2024-01-03 02:00 → hod 2 has
    // hours on days 1 and 2 dense-filled to 0: hod_total 9, hod_hours 3.
    val hod2 = got.filter(_.getAs[Long]("hod") === 2L)
    assert(hod2.length === 3, "grid must dense-fill the silent hod-2 hours")
    assert(hod2.forall(_.getAs[Long]("hod_total") === 9L))
    val spike = hod2.filter(_.getAs[Long]("n") === 9L)
    assert(spike.length === 1 && spike.head.getAs[Boolean]("alarm"), "9*3 > 2*9 must alarm")
    assert(hod2.filter(_.getAs[Long]("n") === 0L).forall(!_.getAs[Boolean]("alarm")))
    // hod 0: counts 1,1,1 → mean 1; 1*3 > 2*3 false — steady traffic never alarms
    assert(got.filter(_.getAs[Long]("hod") === 0L).forall(!_.getAs[Boolean]("alarm")))
  }

  test("Text.collapseRepeats: stutters collapse, non-adjacent repeats survive, empty text unchanged") {
    val docs = Seq(
      (1L, "x x y y y z"),
      (2L, "a b a b"), // non-adjacent repeats are prose, not stutter
      (3L, ""),
      (4L, "w"),
    ).toDF("doc_id", "text")
    val got = Text
      .collapseRepeats(docs, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))))
      .toMap
    assert(got(1L) === ((6L, 3L, "x y z")))
    assert(got(2L) === ((4L, 4L, "a b a b")))
    assert(got(3L) === ((1L, 1L, ""))) // split('') = [''] in both engines
    assert(got(4L) === ((1L, 1L, "w")))
  }

  test("Similarity.maxSimTopK: per-chunk best matches sum; self excluded; ties break on id") {
    // Query doc 1 has chunks q0 = [1,0], q1 = [0,1].
    // Candidate doc 2: chunks [2,0], [0,3] → best(q0)=2, best(q1)=3 → 5.
    // Candidate doc 3: one chunk [2,2]    → best(q0)=2, best(q1)=2 → 4.
    // Candidate doc 4: one chunk [5,-1]   → best(q0)=5, best(q1)=-1 → 4 (tie with 3 → id order).
    val chunks = Seq(
      (1L, 0L, Seq(1L, 0L)),
      (1L, 1L, Seq(0L, 1L)),
      (2L, 0L, Seq(2L, 0L)),
      (2L, 1L, Seq(0L, 3L)),
      (3L, 0L, Seq(2L, 2L)),
      (4L, 0L, Seq(5L, -1L)),
    ).toDF("doc_id", "chunk_id", "v")
    val got = Similarity
      .maxSimTopK(chunks.filter(col("doc_id") === 1L), chunks, "doc_id", "chunk_id", "v", k = 3)
      .orderBy("rnk")
      .collect()
      .map(r => (r.getAs[Long]("n_id"), r.getAs[Long]("maxsim"), r.getAs[Int]("rnk")))
      .toSeq
    assert(got === Seq((2L, 5L, 1), (3L, 4L, 2), (4L, 4L, 3)))
    assert(!got.exists(_._1 == 1L), "self-match must be excluded")
  }

  test("Skyline.pareto2d: dominance strictness, same-x pruning, duplicate points both kept") {
    val pts = Seq(
      (1.0, 5), (1.0, 5),  // duplicate frontier point: n_rows 2
      (1.0, 3),            // same x, lower y: dominated
      (2.0, 5),            // same y as cheaper x=1: dominated (strict x)
      (2.0, 7),            // frontier
      (3.0, 7),            // y ties more-expensive x: dominated
      (4.0, 9),            // frontier
      (5.0, 1),            // dominated by everything
    ).toDF("price", "size")
    val got = Skyline
      .pareto2d(pts, "price", "size")
      .collect()
      .map(r => (r.getDouble(0), r.getInt(1)) -> r.getAs[Long]("n_rows"))
      .toMap
    assert(got === Map((1.0, 5) -> 2L, (2.0, 7) -> 1L, (4.0, 9) -> 1L))
  }

  test("Text.packWindows: token conservation, straddle pieces, shard-count invariance") {
    val docs = Seq(
      (0L, Seq.fill(3)("a").mkString(" ")),   // [0,3)
      (1L, ""),                               // empty: dropped
      (2L, Seq.fill(4)("b").mkString(" ")),   // [3,7)  straddles the 4-cut
      (3L, Seq.fill(10)("c").mkString(" ")),  // [7,17) spans windows 1..4
    ).toDF("id", "text")
    val got = Text.packWindows(docs, "id", "text", budget = 4, shards = 3)
    val rows = got.collect().map(r =>
      (r.getAs[Long]("window_id"), r.getAs[Long]("doc_id"), r.getAs[Long]("tok_in_window")))
    assert(rows.map(_._3).sum === 17) // conservation: every token in exactly one window
    val byDoc = rows.groupBy(_._2)
    assert(!byDoc.contains(1L))
    assert(byDoc(2L).toSet === Set((0L, 2L, 1L), (1L, 2L, 3L))) // straddle split 1+3
    assert(byDoc(3L).map(_._3).sum === 10 && byDoc(3L).length === 4)
    // the same manifest regardless of how the scan was sharded
    val oneShard = Text.packWindows(docs, "id", "text", budget = 4, shards = 1)
    assert(got.except(oneShard).isEmpty && oneShard.except(got).isEmpty)
  }

  test("Stats.weightedQuantiles: nearest-rank on cumulative weight, null weight counts 0, null value excluded") {
    val df = Seq(
      ("g", Some(1L), Some(4L)),
      ("g", Some(2L), Some(2L)),
      ("g", Some(3L), Some(4L)),
      ("g", Some(9L), None),    // null weight: present in histogram with weight 0
      ("g", None, Some(100L)),  // null value: excluded entirely
    ).toDF("grp", "v", "w")
    val r = Stats
      .weightedQuantiles(df, Seq("grp"), "v", "w",
        Seq(250000L -> "p25", 500000L -> "p50", 750000L -> "p75"))
      .head()
    // W = 10, cum: 1→4, 2→6, 3→10; ranks ⌈2.5⌉=3, 5, ⌈7.5⌉=8
    assert(r.getAs[Long]("p25") === 1L)
    assert(r.getAs[Long]("p50") === 2L)
    assert(r.getAs[Long]("p75") === 3L)
  }

  test("Stats.chi2Homogeneity: zero on perfect homogeneity, hand-checked statistic on disjoint cohorts") {
    val same = Seq(("A", "x"), ("A", "x"), ("A", "y"), ("A", "y"),
      ("B", "x"), ("B", "x"), ("B", "y"), ("B", "y")).toDF("r", "c")
    val h = Stats.chi2Homogeneity(same, "r", "c").collect()
    assert(h.forall(_.getAs[Long]("contrib_ppm") === 0L))
    assert(h.forall(_.getAs[Long]("chi2_ppm") === 0L))
    // disjoint: A all x, B all y — observed-cell χ² = 2·(4−2)²/2 = 4
    val disj = Seq.fill(4)(("A", "x")).++(Seq.fill(4)(("B", "y"))).toDF("r", "c")
    val d = Stats.chi2Homogeneity(disj, "r", "c").collect()
    assert(d.length === 2)
    assert(d.forall(_.getAs[Long]("e_ppm") === 2000000L))
    assert(d.forall(_.getAs[Long]("contrib_ppm") === 2000000L))
    assert(d.forall(_.getAs[Long]("chi2_ppm") === 4000000L))
  }

  test("Bloom: no false negatives ever; saturated 1-bit filter flags everything; wide filter rejects an absent key") {
    val members = Seq("a", "b", "c").toDF("k")
    val probes  = Seq("a", "b", "c", "zz").toDF("k")
    def flags(bits: Int) = {
      val f = Bloom.mightContain(Bloom.build(members, "k", bits, 3), probes, "k", bits, 3)
      f.collect().map(r => r.getString(0) -> r.getAs[Boolean]("might_contain")).toMap
    }
    val wide = flags(1 << 20) // collision-free w.h.p.
    assert(wide("a") && wide("b") && wide("c"))
    assert(!wide("zz"))
    val tiny = flags(1) // every bit position is 0: everything matches
    assert(tiny.values.forall(identity))
  }

  test("Bloom.packedMask/memberPredicate: scan-local predicate agrees with the join form bit-for-bit") {
    val members = (1L to 300L).toDF("k")
    val probes  = (250L to 600L).toDF("k")
    val bits    = 4096
    val bloom   = Bloom.build(members, "k", bits, 3)
    val viaJoin = Bloom.mightContain(bloom, probes, "k", bits, 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("might_contain")).toMap
    val mask = Bloom.packedMask(bloom, bits)
    assert(mask.length === bits / 64)
    val viaPred = probes
      .withColumn("m", Bloom.memberPredicate(col("k"), mask, bits, 3))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(viaPred === viaJoin)
    (250L to 300L).foreach(k => assert(viaPred(k), s"false negative for member $k"))
  }

  test("PageRank.personalized: unreachable nodes stay 0, seeds hold the restart mass") {
    // two disjoint undirected pairs; seed in one of them
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val r = PageRank.personalized(edges, seeds, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getAs[Long]("rank_ppm")).toMap
    assert(r(3L) === 0L && r(4L) === 0L) // no path from the seed: no mass ever
    // hand-run on the 2-cycle (mass ping-pongs between the pair):
    // r0=(1e6, 0); it1=(150000, 850000); it2=(872500, 127500); it3=(258375, 741625)
    assert(r(1L) === 258375L && r(2L) === 741625L)
  }

  test("Eval: confusion shares, per-class report counts, ppm identities on a hand confusion") {
    // truth a a a b b c ; pred a a b b c c
    val df = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "c"), ("c", "c"))
      .toDF("y", "p")
    val cm = Eval.confusion(df, "y", "p").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getAs[Long]("n"), r.getAs[Long]("share_ppm")))
      .toMap
    assert(cm(("a", "a")) === (2L, 666666L)) // 2/3 floored ppm
    assert(cm(("a", "b")) === (1L, 333333L))
    assert(cm(("b", "b")) === (1L, 500000L))
    val rep = Eval.classReport(df, "y", "p").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rep("a").getAs[Long]("tp") === 2L)
    assert(rep("a").getAs[Long]("n_true") === 3L)
    assert(rep("a").getAs[Long]("n_pred") === 2L)
    assert(rep("a").getAs[Long]("precision_ppm") === 1000000L)
    assert(rep("a").getAs[Long]("recall_ppm") === 666666L)
    assert(rep("a").getAs[Long]("f1_ppm") === 800000L) // 2*2/(3+2)
    assert(rep("c").getAs[Long]("n_pred") === 2L && rep("c").getAs[Long]("precision_ppm") === 500000L)
  }

  test("Eval.classReport: class never predicted gets precision 0, class never labeled gets recall 0") {
    val df  = Seq(("a", "b"), ("a", "b")).toDF("y", "p")
    val rep = Eval.classReport(df, "y", "p").collect().map(r => r.getString(0) -> r).toMap
    assert(rep("a").getAs[Long]("n_pred") === 0L && rep("a").getAs[Long]("precision_ppm") === 0L)
    assert(rep("b").getAs[Long]("n_true") === 0L && rep("b").getAs[Long]("recall_ppm") === 0L)
    assert(rep("a").getAs[Long]("f1_ppm") === 0L && rep("b").getAs[Long]("f1_ppm") === 0L)
  }

  test("Fusion.rrf: both-list items outrank single-list, absent items contribute nothing, ties break on item") {
    val a = Seq((1, 10L, 1), (1, 11L, 2), (1, 12L, 3)).toDF("g", "item", "rnk")
    val b = Seq((1, 11L, 1), (1, 13L, 2)).toDF("g", "item", "rnk")
    val got = Fusion.rrf(Seq(a, b), groupCols = Seq("g"), itemCol = "item", rankCol = "rnk")
      .collect().map(r => r.getAs[Long]("item") ->
        (r.getAs[Long]("rrf_ppm"), r.getAs[Long]("n_lists"), r.getAs[Int]("rnk"))).toMap
    val f = (r: Int) => 1000000L / (60 + r)
    assert(got(11L) === (f(2) + f(1), 2L, 1)) // in both lists: top fused
    assert(got(10L) === (f(1), 1L, 2))
    assert(got(13L) === (f(2), 1L, 3))
    assert(got(12L) === (f(3), 1L, 4))
  }

  test("Text.bm25TopK: rarer term outweighs common, higher tf wins within a term, non-matching docs absent") {
    val docs = Seq(
      (1L, "rare common common"),
      (2L, "common common common"),
      (3L, "common rare rare"),
      (4L, "other other other"),
    ).toDF("id", "text")
    val got = Text
      .bm25TopK(docs, "id", "text", queries = Seq(1 -> "rare", 2 -> "common"), k = 10)
      .collect()
      .groupBy(_.getAs[Int]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("doc_id")).toSeq)
      .toMap
    assert(got(1) === Seq(3L, 1L))       // tf 2 beats tf 1; docs without 'rare' absent
    assert(got(2) === Seq(2L, 1L, 3L))   // tf 2 beats the tf-1 tie broken by doc id
    // doc 4 matches neither query
    assert(!got.values.flatten.toSet.contains(4L))
  }

  test("Stats.spearmanStats: perfect monotone is exactly ±1; nulls are complete-case dropped") {
    val up = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("x", "y")
    val r1 = Stats.spearmanStats(up, col("x"), col("y")).collect().head
    assert(r1.getAs[Long]("n") === 3L)
    assert(r1.getAs[Double]("rho") === 1.0)
    val down = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("x", "y")
    assert(Stats.spearmanStats(down, col("x"), col("y")).collect().head
      .getAs[Double]("rho") === -1.0)
    // a null on either side drops the ROW (ranks must range over the
    // same row set); remaining pairs (1,10),(3,30) still perfectly rank
    val holey = Seq((Some(1L), Some(10L)), (Some(2L), None), (None, Some(5L)), (Some(3L), Some(30L)))
      .toDF("x", "y")
    val r2 = Stats.spearmanStats(holey, col("x"), col("y")).collect().head
    assert(r2.getAs[Long]("n") === 2L)
    assert(r2.getAs[Double]("rho") === 1.0)
  }

  test("Stats.cramersV: hand-computed 2x2 association; degenerate table gives null v2") {
    // cells (a,x)=3,(a,y)=1,(b,x)=1,(b,y)=3: e=2 everywhere, chi2=2,
    // phi^2 = 2/8 = 0.25.
    val rows = Seq.fill(3)(("a", "x")) ++ Seq(("a", "y"), ("b", "x")) ++ Seq.fill(3)(("b", "y"))
    val r = Stats.cramersV(rows.toDF("r", "c"), "r", "c").collect().head
    assert(r.getAs[Long]("n") === 8L)
    assert(r.getAs[Long]("n_rows") === 2L)
    assert(r.getAs[Long]("n_cols") === 2L)
    assert(r.getAs[Long]("chi2_ppm") === 2000000L)
    assert(r.getAs[Long]("v2_ppm") === 250000L)
    // single-column table: min(r-1, c-1) = 0 -> v2 undefined (null)
    val degen = Stats.cramersV(Seq(("a", "x"), ("b", "x")).toDF("r", "c"), "r", "c")
      .collect().head
    assert(degen.isNullAt(degen.fieldIndex("v2_ppm")))
  }

  test("Text.knContinuationCounts: the Francisco effect — frequent but single-context scores low") {
    // "san francisco" x3: francisco is frequent (c=3) but has ONE left
    // context; "b" appears twice with two distinct left contexts.
    val docs = Seq("san francisco a b", "san francisco c b", "san francisco").toDF("text")
    val got = Text.knContinuationCountsFromTables(graft.ops.NgramCounts.build(docs, "text", lit(false)))
      .collect()
      .map(r => r.getAs[String]("word") ->
        (r.getAs[Long]("c"), r.getAs[Long]("n_left"), r.getAs[Long]("n_right"), r.getAs[Long]("pcont_ppm")))
      .toMap
    // distinct bigram types: (san,francisco),(francisco,a),(a,b),(francisco,c),(c,b) = 5
    assert(got("francisco") === ((3L, 1L, 2L, 200000L))) // frequent, ONE context -> low p_cont
    assert(got("b") === ((2L, 2L, 0L, 400000L)))          // rarer, MORE contexts -> higher p_cont
    assert(got("san") === ((3L, 0L, 1L, 0L)))             // never follows anything
  }

  test("NgramCounts.FromTables variants are bit-identical to the direct forms") {
    // mixed doc sizes (0/1/2/3+ tokens), repeated grams, and a
    // held-out slice that actually splits the corpus
    val docs = Seq(
      (0L, "a b c a b c d"),
      (1L, "b c d d"),
      (2L, "x"),
      (3L, ""),
      (10L, "a b c x y z"), // test slice (doc_id % 10 = 0 picks 0 and 10)
      (11L, "c d a b"),
    ).toDF("doc_id", "text")
    val isTest = expr("doc_id % 10 = 0")
    val t      = graft.ops.NgramCounts.build(docs, "text", isTest)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(
      rows(Text.bigramLmScoreFromTables(docs, "doc_id", "text", t)) ===
        rows(Reference.bigramLmScore(docs, "doc_id", "text")))
    assert(
      rows(Text.trigramBackoffScoreFromTables(docs, "doc_id", "text", isTest, t)) ===
        rows(Reference.trigramBackoffScore(docs, "doc_id", "text", isTest)))
    assert(
      rows(Text.knContinuationCountsFromTables(t)) ===
        rows(Reference.knContinuationCounts(docs, "text")))
    assert(
      rows(Text.freqOfFreqsFromTermCounts(
        t.tri.groupBy("tg").agg(sum(col("c")).as("r")), maxR = 3)) ===
        rows(Reference.freqOfFreqs(docs, Text.shingles(Text.tokens(col("text")), 3), maxR = 3)))
  }

  test("Text.freqOfFreqs: count-of-counts with Good-Turing ppm; gap gives null") {
    // tokens: a:2 b:2 c:2 d:1 -> N_1=1, N_2=3; GT r*=1: (1+1)*N_2/N_1 = 6.
    val docs = Seq("a a b b c", "c d").toDF("text")
    val got = Reference.freqOfFreqs(docs, Text.tokens(col("text")), maxR = 2)
      .collect()
      .map(r => r.getAs[Long]("r") -> (r.getAs[Long]("n_r"), Option(r.get(r.fieldIndex("gt_rstar_ppm")))))
      .toMap
    assert(got(1L) === ((1L, Some(6000000L))))
    assert(got(2L) === ((3L, None))) // N_3 absent -> GT null, not 0
  }

  test("Text.freqOfFreqs: r >= 2 uses the adjusted count r*, not the discount ratio r*/r") {
    // tokens: a:1 b:2 b c:3 -> N_1=N_2=N_3=1.
    // r*=1: 2*N_2/N_1 = 2; r*=2: 3*N_3/N_2 = 3 (the r*/r ratio would floor to 1.5e6).
    val docs = Seq("a b b c c c").toDF("text")
    val got = Reference.freqOfFreqs(docs, Text.tokens(col("text")), maxR = 2)
      .collect()
      .map(r => r.getAs[Long]("r") -> Option(r.get(r.fieldIndex("gt_rstar_ppm"))))
      .toMap
    assert(got(1L) === Some(2000000L))
    assert(got(2L) === Some(3000000L))
  }

  test("AsOf.joinAtOrBeforeWithin: stale matches null out like no-match rows") {
    val left = Seq((1L, 100L, "fresh"), (1L, 500L, "stale"), (2L, 50L, "none"))
      .toDF("k", "t", "tag").withColumn("t", timestamp_millis(col("t")))
    val right = Seq((1L, 90L, 7.0)).toDF("k", "t", "rv")
      .withColumn("t", timestamp_millis(col("t")))
    val got = AsOf
      .joinAtOrBeforeWithin(left, right, Seq("k"), "t", Seq("rv"),
        rightTieBreak = "rv", toleranceUs = 50000L, outPrefix = "m_") // 50 ms
      .collect()
      .map(r => r.getAs[String]("tag") -> Option(r.get(r.fieldIndex("m_rv"))))
      .toMap
    assert(got === Map(
      "fresh" -> Some(7.0), // 10 ms back, within bound
      "stale" -> None,      // 410 ms back: matched but stale -> null
      "none"  -> None,      // no right row for key 2
    ))
    // the carried timestamp never leaks into the output schema
    val cols = AsOf
      .joinAtOrBeforeWithin(left, right, Seq("k"), "t", Seq("rv"),
        rightTieBreak = "rv", toleranceUs = 50000L, outPrefix = "m_")
      .columns
    assert(!cols.exists(_.contains("__rts")))
  }

  test("AsOf.joinNearest: closest wins in either direction; distance ties break backward") {
    val left = Seq((1L, 100L, "l1"), (1L, 200L, "l2"), (2L, 50L, "l3"))
      .toDF("k", "t", "lv").withColumn("t", timestamp_millis(col("t")))
    val right = Seq(
      (1L, 90L, 1.0),  // 10 before l1
      (1L, 104L, 2.0), // 4 after l1 -> nearer, forward
      (1L, 196L, 3.0), // 4 before l2; ties with +4 below -> backward wins
      (1L, 204L, 4.0),
    ).toDF("k", "t", "rv").withColumn("t", timestamp_millis(col("t")))
    val got = AsOf
      .joinNearest(left, right, Seq("k"), "t", Seq("rv"), rightTieBreak = "rv", outPrefix = "m_")
      .collect()
      .map(r => r.getAs[String]("lv") -> (Option(r.get(r.fieldIndex("m_rv"))), r.getAs[String]("m_side")))
      .toMap
    assert(got("l1") === ((Some(2.0), "f"))) // forward at distance 4 beats backward 10
    assert(got("l2") === ((Some(3.0), "b"))) // equidistant -> past wins
    assert(got("l3") === ((None, null)))     // no right rows for key 2
  }

  test("Stats.stumpGini: perfect separator scores 0; useless feature scores the base impurity") {
    // 8 rows, 4 positive. f_good splits them perfectly; f_bad is constant.
    val rows = Seq(
      ("a", "x", true), ("a", "x", true), ("a", "x", true), ("a", "x", true),
      ("b", "x", false), ("b", "x", false), ("b", "x", false), ("b", "x", false),
    ).toDF("f_good", "f_bad", "y")
    val got = Stats
      .stumpGini(rows, col("y"), Seq("f_good" -> col("f_good"), "f_bad" -> col("f_bad")))
      .collect()
      .map(r => r.getAs[String]("feature") -> (r.getAs[Long]("n_values"), r.getAs[Long]("gini_split_ppm")))
      .toMap
    assert(got("f_good") === ((2L, 0L)))      // pure leaves
    assert(got("f_bad") === ((1L, 500000L)))  // base gini: 2*0.5*0.5 = 0.5
  }

  test("Ivm.topKMaintain: refresh equals full recompute; delta-only rows can enter and evict") {
    val stored = Seq((1L, 100L, 1), (2L, 90L, 2), (3L, 80L, 3)).toDF("id", "v", "rnk")
    val delta  = Seq((4L, 95L), (5L, 10L)).toDF("id", "v")
    val got = Ivm
      .topKMaintain(stored, delta, k = 3, valueCol = "v", tieCol = "id")
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"), r.getAs[Int]("rnk")))
      .sortBy(_._3)
    // 4 (95) enters at rank 2, 3 (80) is evicted, 5 (10) never ranks
    assert(got.toSeq === Seq((1L, 100L, 1), (4L, 95L, 2), (2L, 90L, 3)))
    // tie on value breaks by id ascending
    val tied = Ivm
      .topKMaintain(stored, Seq((0L, 90L)).toDF("id", "v"), k = 3, "v", "id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rnk"))).sortBy(_._2)
    assert(tied.toSeq === Seq((1L, 1), (0L, 2), (2L, 3)))
  }

  test("Stats.rfmScores: equal-mass quintiles with ties sharing a score; rfm cell concatenates") {
    // 10 entities, one event each on day = entity, value = entity cents
    val df = (1L to 10L).map(i => (i, i, i)).toDF("e", "day", "v")
    val got = Stats
      .rfmScores(df, col("e"), col("day"), col("v"), k = 5)
      .collect()
      .map(r => r.getAs[Long]("entity") -> (r.getAs[Long]("r_score"), r.getAs[Long]("f_score"), r.getAs[Long]("m_score"), r.getAs[Long]("rfm")))
      .toMap
    // r and m: 10 distinct values -> 2 per quintile; f: all tied at 1 ->
    // every entity shares f_score 1 (strictly-less = 0)
    assert(got(1L) === ((1L, 1L, 1L, 111L)))
    assert(got(2L) === ((1L, 1L, 1L, 111L)))
    assert(got(3L) === ((2L, 1L, 2L, 212L)))
    assert(got(10L) === ((5L, 1L, 5L, 515L)))
  }

  test("Layout.hilbertKey: first-order curve, known cell, and Manhattan-adjacency of consecutive keys") {
    import graft.ops.Layout
    // order-1 curve: (0,0)->0 (0,1)->1 (1,1)->2 (1,0)->3
    val b1 = Seq((0L, 0L), (0L, 1L), (1L, 1L), (1L, 0L)).toDF("x", "y")
      .select(col("x"), col("y"), Layout.hilbertKey(col("x"), col("y"), 1).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("h")).toMap
    assert(b1 === Map((0L, 0L) -> 0L, (0L, 1L) -> 1L, (1L, 1L) -> 2L, (1L, 0L) -> 3L))
    // order-2: every pair of consecutive keys is Manhattan-adjacent —
    // the locality property Z-order lacks — and the walk is a bijection
    val cells = for { x <- 0L until 4L; y <- 0L until 4L } yield (x, y)
    val keyed = cells.toDF("x", "y")
      .select(col("x"), col("y"), Layout.hilbertKey(col("x"), col("y"), 2).as("h"))
      .collect().map(r => r.getAs[Long]("h") -> (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    assert(keyed.map(_._1).toSeq === (0L until 16L))
    keyed.sliding(2).foreach { case Array((_, (x1, y1)), (_, (x2, y2))) =>
      assert((x1 - x2).abs + (y1 - y2).abs === 1L)
    }
  }

  test("Stats.bootstrapMeanCi: CI brackets the point mean; weights replay deterministically") {
    val df = (1L to 400L).map(i => (i, 100L + (i % 7))).toDF("id", "v")
    val r = Stats
      .bootstrapMeanCi(df, col("id"), col("v"), b = 50, ppmLo = 25000L, ppmHi = 975000L)
      .collect().head
    assert(r.getAs[Long]("n") === 400L)
    assert(r.getAs[Long]("b_count") === 50L)
    val (lo, hi, pt) =
      (r.getAs[Long]("ci_lo_ppm"), r.getAs[Long]("ci_hi_ppm"), r.getAs[Long]("mean_ppm"))
    assert(lo <= pt && pt <= hi, s"CI [$lo, $hi] must bracket the point mean $pt")
    assert(lo > 100000000L && hi < 107000000L) // means live in [100, 107] ppm-scaled
    // identical inputs -> identical resamples (md5-seeded, no RNG)
    val r2 = Stats
      .bootstrapMeanCi(df, col("id"), col("v"), b = 50, ppmLo = 25000L, ppmHi = 975000L)
      .collect().head
    assert(r2 === r)
    // xxhash64 production twin: same point fields (n, mean, resample
    // count), a valid bracketing CI in the same mean range, and the
    // same no-RNG determinism. The CI endpoints themselves differ (a
    // different uniform stream is a different resample set).
    val x = Stats
      .bootstrapMeanCiXx(df, col("id"), col("v"), b = 50, ppmLo = 25000L, ppmHi = 975000L)
      .collect().head
    assert(x.getAs[Long]("n") === r.getAs[Long]("n"))
    assert(x.getAs[Long]("mean_ppm") === r.getAs[Long]("mean_ppm"))
    assert(x.getAs[Long]("b_count") === 50L)
    val (xlo, xhi) = (x.getAs[Long]("ci_lo_ppm"), x.getAs[Long]("ci_hi_ppm"))
    assert(xlo <= pt && pt <= xhi, s"xx CI [$xlo, $xhi] must bracket the point mean $pt")
    assert(xlo > 100000000L && xhi < 107000000L)
    val x2 = Stats
      .bootstrapMeanCiXx(df, col("id"), col("v"), b = 50, ppmLo = 25000L, ppmHi = 975000L)
      .collect().head
    assert(x2 === x)
  }

  test("Stats.conformalMeanInterval: matches an in-JVM replay; tiny alpha gives the infinite interval") {
    def h24(id: Long): Long = {
      val hex = java.security.MessageDigest
        .getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
        .take(6)
      java.lang.Long.parseLong(hex, 16)
    }
    val data = (1L to 40L).map(i => (i, 100L + (i * 7) % 23))
    val df   = data.toDF("id", "v")
    // replay the op in plain Scala
    val (calS, testS) = data.partition { case (id, _) => h24(id) * 1000000L / (1 << 24) < 500000L }
    val nCal    = calS.size.toLong
    val meanPpm = calS.map(_._2).map(BigInt(_)).sum * 1000000 / nCal
    val resid   = calS.map { case (_, v) => (BigInt(v) * 1000000 - meanPpm).abs }.sorted
    val rank    = ((nCal + 1) * 900000L + 999999L) / 1000000L
    val qPpm    = resid((rank - 1).toInt)
    val covered = testS.count { case (_, v) => (BigInt(v) * 1000000 - meanPpm).abs <= qPpm }
    val r = Stats
      .conformalMeanInterval(df, col("id"), col("v"), alphaPpm = 100000L)
      .collect().head
    assert(r.getAs[Long]("n_cal") === nCal)
    assert(r.getAs[Long]("n_test") === testS.size.toLong)
    assert(r.getAs[Long]("mean_ppm") === meanPpm.toLong)
    assert(r.getAs[Long]("q_ppm") === qPpm.toLong)
    assert(r.getAs[Long]("n_covered") === covered.toLong)
    // alpha below 1/(n_cal+1): the conformal rank exceeds n_cal -> the
    // interval is infinite (NULL q) and every test row is covered
    val inf = Stats
      .conformalMeanInterval(df, col("id"), col("v"), alphaPpm = 1000L)
      .collect().head
    assert(inf.isNullAt(inf.fieldIndex("q_ppm")))
    assert(inf.getAs[Long]("coverage_ppm") === 1000000L)
  }

  test("Survival.kaplanMeier: hand-checked curve - censored subjects leave the risk set silently") {
    // durations (dur, observed): 1T 2T 2F 3T 3T 5F -> event times 1,2,3
    // n_risk 6/5/3, steps 5/6, 4/5, 1/3: s = 833333, 666666, 222222.
    val subj = Seq((1L, true), (2L, true), (2L, false), (3L, true), (3L, true), (5L, false))
      .toDF("dur", "obs")
    val got = Survival
      .kaplanMeier(subj, col("dur"), col("obs"))
      .collect()
      .map(r => r.getAs[Long]("t") ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("d_events"), r.getAs[Long]("surv_ppm")))
      .toMap
    assert(got === Map(
      1L -> ((6L, 1L, 833333L)),
      2L -> ((5L, 1L, 666666L)),
      3L -> ((3L, 2L, 222222L)),
    ))
  }

  test("Survival.kaplanMeierBy: independent curves per cohort") {
    val subj = Seq(
      ("a", 1L, true), ("a", 2L, true), ("a", 2L, false),
      ("a", 3L, true), ("a", 3L, true), ("a", 5L, false),
      ("b", 1L, true), // lone subject: curve drops straight to 0
    ).toDF("k", "dur", "obs")
    val got = Survival
      .kaplanMeierBy(subj, col("k"), col("dur"), col("obs"))
      .collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("t")) ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("surv_ppm")))
      .toMap
    assert(got(("a", 1L)) === ((6L, 833333L)))
    assert(got(("a", 2L)) === ((5L, 666666L)))
    assert(got(("a", 3L)) === ((3L, 222222L)))
    assert(got(("b", 1L)) === ((1L, 0L)))
    assert(got.size === 4)
  }

  test("Timeseries.hampelFromHourly: spike flagged, its neighbors not; doubled medians exact") {
    import graft.ops.Timeseries
    val h0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(i: Int) = new java.sql.Timestamp(h0.getTime + i * 3600L * 1000)
    // steady 10s with one 100 spike at hour 4 of 0..8
    val hourly = (0 to 8).map(i => ("k", ts(i), if (i == 4) 100L else 10L))
      .toDF("key", "hour_ts", "n")
    val out = Timeseries.hampelFromHourly(hourly, radius = 2, t = 3)
      .collect()
      .map(r => r.getAs[java.sql.Timestamp]("hour_ts") ->
        (r.getAs[Long]("n"), r.getAs[Long]("med2"), r.getAs[Long]("mad4"),
          r.getAs[Boolean]("is_outlier")))
      .toMap
    // hour 4's window [10,10,100,10,10] -> med2 = 20, devs2 [0,0,0,0,180]
    // -> mad4 = 0 -> degenerate rule flags the spike
    assert(out(ts(4)) === ((100L, 20L, 0L, true)))
    // neighbors: window holds the spike but median stays 10 -> not
    // flagged (the robustness a mean/sigma detector lacks)
    assert(out(ts(3)) === ((10L, 20L, 0L, false)))
    assert(out(ts(5)) === ((10L, 20L, 0L, false)))
    // even-length EDGE window (hours 5..8, 4 cells) at hour 7:
    // med2 = 10 + 10 = 20, exact integer (no float interpolation)
    assert(out(ts(7))._2 === 20L)
    assert(out.size === 9)
  }

  test("Survival.logRank: matches an in-JVM BigInt replay; identical cohorts give chi2 = 0") {
    // cohort 1: (1,T), (3,T); cohort 0: (1,T), (2,F), (3,T), (3,F)
    val subj = Seq(
      (true, 1L, true), (true, 3L, true),
      (false, 1L, true), (false, 2L, false), (false, 3L, true), (false, 3L, false),
    ).toDF("g", "dur", "obs")
    val r = Survival.logRank(subj, col("g"), col("dur"), col("obs")).collect().head
    // replay: pooled steps (t, n, n1, d, d1) = (1, 6, 2, 2, 1), (3, 3, 1, 2, 1)
    val steps = Seq((6L, 2L, 2L, 1L), (3L, 1L, 2L, 1L))
    def e1(n: Long, n1: Long, d: Long)  = BigInt(d) * n1 * 1000000 / n
    def v(n: Long, n1: Long, d: Long)   =
      BigInt(d) * n1 * (n - n1) * (n - d) * 1000000 / (BigInt(n) * n * (n - 1))
    val e1Sum  = steps.map { case (n, n1, d, _) => e1(n, n1, d) }.sum
    val oMinusE = steps.map { case (n, n1, d, d1) => BigInt(d1) * 1000000 - e1(n, n1, d) }.sum
    val vSum   = steps.map { case (n, n1, d, _) => v(n, n1, d) }.sum
    assert(r.getAs[Long]("n_steps") === 2L)
    assert(r.getAs[Long]("o1_events") === 2L)
    assert(r.getAs[Long]("e1_ppm") === e1Sum.toLong)
    assert(r.getAs[Long]("o_minus_e_ppm") === oMinusE.toLong)
    assert(r.getAs[Long]("var_ppm") === vSum.toLong)
    assert(r.getAs[Long]("chi2_ppm") === (oMinusE * oMinusE / vSum).toLong)
    // identical cohorts: O == E at every step -> chi2 exactly 0
    val same = Seq(
      (true, 1L, true), (true, 2L, true), (false, 1L, true), (false, 2L, true),
    ).toDF("g", "dur", "obs")
    val r0 = Survival.logRank(same, col("g"), col("dur"), col("obs")).collect().head
    assert(r0.getAs[Long]("o_minus_e_ppm") === 0L)
    assert(r0.getAs[Long]("chi2_ppm") === 0L)
  }

  test("Survival.logRankStratified: Simpson-style confound vanishes within strata") {
    // two strata with different baseline hazards but IDENTICAL group
    // behavior within each stratum; stratum A is all group-1, B all
    // group-0. An UNSTRATIFIED test confounds group with stratum
    // (group 1 looks faster only because its stratum converts faster);
    // within strata each risk set is single-group, so E = d1 exactly
    // and the adjusted statistic is 0.
    val subj = Seq(
      ("A", true, 1L, true), ("A", true, 1L, true), ("A", true, 2L, true),
      ("B", false, 5L, true), ("B", false, 6L, true), ("B", false, 6L, true),
    ).toDF("st", "g", "dur", "obs")
    val strat = Survival
      .logRankStratified(subj, col("st"), col("g"), col("dur"), col("obs"))
      .collect().head
    assert(strat.getAs[Long]("n_strata") === 2L)
    assert(strat.getAs[Long]("o_minus_e_ppm") === 0L)
    assert(strat.getAs[Long]("chi2_ppm") === 0L)
    val pooled = Survival
      .logRank(subj, col("g"), col("dur"), col("obs"))
      .collect().head
    assert(pooled.getAs[Long]("chi2_ppm") > 0L, "pooled test must show the confound")
  }

  test("Survival.rmst: hand-checked area under the KM steps; zero-duration step replaces the anchor") {
    // KM fixture curve: S = 833333 on [1,2), 666666 on [2,3), 222222 on
    // [3,tau); anchor S = 1e6 on [0,1). tau = 5:
    // 1e6·1 + 833333·1 + 666666·1 + 222222·2 = 2944443
    val subj = Seq((1L, true), (2L, true), (2L, false), (3L, true), (3L, true), (5L, false))
      .toDF("dur", "obs")
    val r = Survival.rmst(subj, col("dur"), col("obs"), tau = 5L).collect().head
    assert(r.getAs[Long]("tau") === 5L)
    assert(r.getAs[Long]("n_segments") === 4L)
    assert(r.getAs[Long]("rmst_ppm") === 2944443L)
    // a REAL step at t = 0 must replace the synthetic anchor, not tie
    // with it: (0,T),(1,F) -> S = 500000 on [0,1), rmst = 500000·1 over
    // tau = 1 with ONE segment
    val zero = Seq((0L, true), (1L, false)).toDF("dur", "obs")
    val rz = Survival.rmst(zero, col("dur"), col("obs"), tau = 1L).collect().head
    assert(rz.getAs[Long]("n_segments") === 1L)
    assert(rz.getAs[Long]("rmst_ppm") === 500000L)
  }

  test("Survival.nelsonAalen: hand-checked additive hazard on the KM fixture") {
    // same fixture as the KM test: event times 1,2,3 with n_risk 6/5/3
    // and d 1/1/2 -> steps ⌊1e6/6⌋=166666, ⌊1e6/5⌋=200000,
    // ⌊2e6/3⌋=666666; cumulative 166666, 366666, 1033332
    val subj = Seq((1L, true), (2L, true), (2L, false), (3L, true), (3L, true), (5L, false))
      .toDF("dur", "obs")
    val got = Survival
      .nelsonAalen(subj, col("dur"), col("obs"))
      .collect()
      .map(r => r.getAs[Long]("t") ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("d_events"),
          r.getAs[Long]("haz_step_ppm"), r.getAs[Long]("cumhaz_ppm")))
      .toMap
    assert(got === Map(
      1L -> ((6L, 1L, 166666L, 166666L)),
      2L -> ((5L, 1L, 200000L, 366666L)),
      3L -> ((3L, 2L, 666666L, 1033332L)),
    ))
    // per-cohort independence through the same risk table
    val byK = Survival
      .nelsonAalenBy(
        Seq(("a", 1L, true), ("a", 2L, true), ("b", 1L, true)).toDF("k", "dur", "obs"),
        col("k"), col("dur"), col("obs"))
      .collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("t")) -> r.getAs[Long]("cumhaz_ppm"))
      .toMap
    assert(byK === Map(("a", 1L) -> 500000L, ("a", 2L) -> 1500000L, ("b", 1L) -> 1000000L))
  }

  test("Timeseries.mannKendallDaily: pair signs over the dense grid, tie-corrected variance") {
    // k1 daily counts [1,2,0,1] (day 3 silent -> zero): S = -1,
    // tie_term = 18 (two 1s), var18 = 156 - 18 = 138.
    // k2 counts [0,1,0,0]: S = -1, tie_term = 66 (three 0s), var18 = 90.
    def t(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$day%d 12:00:00")
    val rows = Seq(("k1", t(1)), ("k1", t(2)), ("k1", t(2)), ("k1", t(4)), ("k2", t(2)))
    val df   = rows.toDF("k", "ts")
    val got = Timeseries
      .mannKendallDaily(df, "k", "ts")
      .collect()
      .map(r => r.getAs[String]("key") ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("s_stat"), r.getAs[Long]("var18")))
      .toMap
    assert(got === Map("k1" -> ((4L, -1L, 138L)), "k2" -> ((4L, -1L, 90L))))
  }

  test("Text.rakeKeywords: degree/frequency scoring, duplicate phrases collapse") {
    // "deep learning of the deep networks and networks":
    // phrases {deep learning}, {deep networks}, {networks};
    // freq deep=2 learning=1 networks=2; deg deep=4 learning=2 networks=3;
    // wscore deep=2e6 learning=2e6 networks=1.5e6 ->
    // scores 4e6 / 3.5e6 / 1.5e6.
    val docs = Seq(
      (1L, "Deep learning of the deep networks and networks"),
      (2L, "alpha beta and alpha beta"),
    ).toDF("doc_id", "text")
    val got = Text
      .rakeKeywords(docs, "doc_id", "text", topK = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rnk")) ->
        (r.getAs[String]("phrase"), r.getAs[Long]("n_words"), r.getAs[Long]("score_ppm")))
      .toMap
    assert(got((1L, 1L)) === (("deep learning", 2L, 4000000L)))
    assert(got((1L, 2L)) === (("deep networks", 2L, 3500000L)))
    // identical phrase instances score once: one row, doubled stats
    assert(got((2L, 1L)) === (("alpha beta", 2L, 4000000L)))
    assert(got.size === 3)
  }

  test("Eval.ndcgAtK: pinned discount ladder, hits at 1 and 3, miss query, capped IDCG") {
    // q1: hits at ranks 1 and 3 of truth {a,b} -> DCG = 1e9 + 5e8,
    // IDCG(min(2,3)) = 1e9 + 630929753; ndcg = 1.5e15 div 1630929753.
    // q2: no hits. q3: n_rel = 4 > k -> IDCG capped at the k=3 prefix.
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L), (3L, 31L), (3L, 32L), (3L, 33L))
      .toDF("q_id", "n_id")
    val ranked = Seq(
      (1L, 10L, 1), (1L, 99L, 2), (1L, 11L, 3),
      (2L, 98L, 1), (2L, 97L, 2), (2L, 96L, 3),
      (3L, 30L, 1), (3L, 31L, 2), (3L, 32L, 3),
    ).toDF("q_id", "n_id", "rnk")
    val got = Eval
      .ndcgAtK(truth, ranked, k = 3)
      .collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("hits"), r.getAs[Long]("dcg"), r.getAs[Long]("idcg"),
          r.getAs[Long]("ndcg_ppm")))
      .toMap
    assert(got(1L) === ((2L, 1500000000L, 1630929753L, 919720L)))
    assert(got(2L) === ((0L, 0L, 1000000000L, 0L)))
    assert(got(3L) === ((3L, 2130929753L, 2130929753L, 1000000L))) // perfect prefix
  }

  test("Burst.kleinberg2: hand-checked Viterbi - six tight gaps burst, entering costs tau") {
    // events at 0,8,16,17,18,19,20,21,22,30 s: gaps 8,8,1,1,1,1,1,1,8;
    // n=9, T=30s, tau = 3*693147 = 2079441.
    // e(8s) = 9*8e12 div 30e6 - 693147 = 1706853; e(1s) = -393147.
    // Optimal path (worked by hand): 0,0,1,1,1,1,1,1,0.
    val ts = Seq(0L, 8L, 16L, 17L, 18L, 19L, 20L, 21L, 22L, 30L).map(_ * 1000000L)
    val df = ts.zipWithIndex
      .map { case (t, i) => (1L, t, i.toLong) }
      .toDF("k", "us", "eid")
      .withColumn("ts", timestamp_micros(col("us")))
      // degenerate keys: 2 events (no gaps to model) and zero span
      .unionByName(
        Seq((2L, 0L, 100L), (2L, 1000000L, 101L), (3L, 5L, 200L), (3L, 5L, 201L), (3L, 5L, 202L))
          .toDF("k", "us", "eid")
          .withColumn("ts", timestamp_micros(col("us"))))
    val got = Burst
      .kleinberg2(df, "k", "ts", "eid")
      .collect()
      .map(r =>
        (r.getAs[Long]("key"), r.getAs[Long]("pos")) ->
          (r.getAs[Long]("gap_us"), r.getAs[Long]("e_ppm"), r.getAs[Boolean]("burst")))
      .toMap
    assert(got.keys.map(_._1).toSet === Set(1L)) // keys 2 and 3 dropped
    assert(got.size === 9)
    assert(got((1L, 1L)) === ((8000000L, 1706853L, false)))
    assert(got((1L, 2L)) === ((8000000L, 1706853L, false)))
    (3L to 8L).foreach { p =>
      assert(got((1L, p)) === ((1000000L, -393147L, true)), s"pos $p should burst")
    }
    assert(got((1L, 9L)) === ((8000000L, 1706853L, false)))
  }

  test("Burst.kleinberg2: a 10^6-event hot key is capped structurally, never a task OOM") {
    // One pathological bot key with 10^6 events (the r14-verdict
    // scenario: per-user sequences have no structural bound) plus a
    // small honest key. With the default cap of 10^4, the hot key's
    // analysis truncates to its FIRST 10^4 events — the collect, the
    // fold's back-pointer arrays, and the quadratic append cost are all
    // bounded by the cap — and the labels over that horizon are
    // BIT-IDENTICAL to running the operator on the pre-truncated
    // prefix. The honest key (under the cap) is untouched.
    import org.apache.spark.sql.functions.{col => c}
    val hot = spark
      .range(1000000L)
      .select(
        lit(1L).as("k"),
        timestamp_micros(c("id") * 1000000L + (c("id") % 7L) * 100000L).as("ts"),
        c("id").as("eid"),
      )
    val honest = Seq((2L, 0L, 0L), (2L, 8L, 1L), (2L, 9L, 2L), (2L, 10L, 3L), (2L, 30L, 4L))
      .toDF("k", "us", "eid")
      .select(c("k"), timestamp_micros(c("us") * 1000000L).as("ts"), c("eid"))
    val got = Burst.kleinberg2(hot.unionByName(honest), "k", "ts", "eid")
    val byKey = got.groupBy("key").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hot key: exactly cap-1 gaps; honest key: all 4 gaps
    assert(byKey === Map(1L -> 9999L, 2L -> 4L))
    // truncated horizon ≡ operator on the pre-truncated prefix
    val prefix   = hot.filter(c("eid") < 10000L)
    val viaCap   = got.filter(c("key") === 1L)
    val viaSlice = Burst.kleinberg2(prefix, "k", "ts", "eid")
    assert(viaCap.exceptAll(viaSlice).isEmpty && viaSlice.exceptAll(viaCap).isEmpty)
  }

  test("Stats.isotonicFit: hand-checked PAVA pools; ties merge; bucket-count guard trips") {
    // buckets 1..4 with rates .75, .25, .5, 1.0 — left-to-right:
    // push(1:.75); push(2:.25) violates -> pool(1-2)=.5; push(3:.5)
    // TIES (4*4 = 2*8) -> merges -> pool(1-3)=6/12; push(4:1.0) ok.
    val rows = Seq(
      (1L, true), (1L, true), (1L, true), (1L, false),
      (2L, true), (2L, false), (2L, false), (2L, false),
      (3L, true), (3L, true), (3L, false), (3L, false),
      (4L, true), (4L, true), (4L, true), (4L, true),
    ).toDF("b", "y")
    val got = graft.ops.Stats
      .isotonicFit(rows, col("b"), col("y"))
      .orderBy("bucket_lo")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq((1L, 3L, 6L, 12L, 500000L), (4L, 4L, 4L, 4L, 1000000L)))
    // already-monotone input: one pool per bucket, untouched rates
    val mono = Seq((1L, false), (1L, true), (2L, true), (2L, true)).toDF("b", "y")
    val gm = graft.ops.Stats.isotonicFit(mono, col("b"), col("y")).orderBy("bucket_lo").collect()
    assert(gm.map(_.getLong(4)).toSeq === Seq(500000L, 1000000L))
    // corpus-keyed misuse fails loudly instead of OOMing the driver
    val err = intercept[IllegalArgumentException] {
      graft.ops.Stats.isotonicFit(rows, col("b"), col("y"), maxBuckets = 2)
    }
    assert(err.getMessage.contains("maxBuckets"))
    // keyed form: cohorts fit independently — a violation in one key
    // must not merge pools in the other
    val keyed = rows
      .withColumn("k", lit("x"))
      .unionByName(Seq((1L, false), (2L, true)).toDF("b", "y").withColumn("k", lit("z")))
    val byK = graft.ops.Stats
      .isotonicFitBy(keyed, col("k"), col("b"), col("y"))
      .orderBy("key", "bucket_lo")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(byK.toSeq === Seq(
      ("x", 1L, 3L, 500000L), ("x", 4L, 4L, 1000000L),
      ("z", 1L, 1L, 0L), ("z", 2L, 2L, 1000000L),
    ))
  }

  test("Graph.diameterSweep: path graph finds the true diameter; hop budget clips it") {
    // path 1-2-3-4-5: seed=1, ecc(1)=4, peripheral=5, ecc(5)=4 = diameter
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val r = Graph.diameterSweep(edges, maxHops = 10).collect().head
    assert(r.getAs[Long]("seed") === 1L)
    assert(r.getAs[Long]("peripheral") === 5L)
    assert(r.getAs[Long]("ecc_seed") === 4L)
    assert(r.getAs[Long]("far_node") === 1L)
    assert(r.getAs[Long]("diameter_lb") === 4L)
    // hop budget 2: first sweep reaches only node 3 (min-id tiebreak
    // among dist-2 nodes), second sweep from 3 reaches 1 and 5 at 2
    val clipped = Graph.diameterSweep(edges, maxHops = 2).collect().head
    assert(clipped.getAs[Long]("peripheral") === 3L)
    assert(clipped.getAs[Long]("diameter_lb") === 2L)
  }

  test("Similarity.knnGraph: rank by cosine with id tie-break; mutuality is reciprocal membership") {
    // Three near-identical vectors + one orthogonal: the trio ranks
    // each other, the loner has no candidates above tau.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.01f)),
      (2L, Array(1.0f, 0.0f, 0.02f)),
      (3L, Array(1.0f, 0.0f, 0.03f)),
      (4L, Array(0.0f, 1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val g = Similarity
      .knnGraph(vecs, "vec_id", "embedding", k = 2, tau = 0.9, nPlanes = 8, bands = 2)
      .collect()
    val bySrc = g.groupBy(_.getAs[Long]("src"))
    assert(!bySrc.contains(4L)) // orthogonal vector: no qualifying edges
    // every edge among the trio is reciprocated (all 3 are in each
    // other's top-2 of a 2-candidate list)
    assert(g.forall(_.getAs[Boolean]("mutual")))
    assert(bySrc(1L).map(_.getAs[Long]("dst")).toSet === Set(2L, 3L))
    // ranks are 1..k dense per src
    bySrc.values.foreach(rows => assert(rows.map(_.getAs[Int]("rnk")).sorted.toSeq === (1 to rows.length)))
    val pairs = Similarity.embeddingDupPairs(vecs, "vec_id", "embedding", tau = 0.9, nPlanes = 8, bands = 2)
    val clusters = Similarity
      .mutualKnnClustersFromPairs(pairs, k = 2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component"))
      .toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // one cluster, min-id canon; loner absent
  }

  test("Similarity.clusterCohesion: tight trio scores near 1e6; member and pair counts exact") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.01f)),
      (2L, Array(1.0f, 0.0f, 0.02f)),
      (3L, Array(1.0f, 0.0f, 0.03f)),
      (4L, Array(0.0f, 1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingDupPairsAuto(vecs, "vec_id", "embedding", tau = 0.9)
    val got = Similarity
      .clusterCohesionFromPairs(vecs, "vec_id", "embedding", pairs, k = 2)
      .collect()
    assert(got.length === 1) // one cluster; the orthogonal loner is absent
    val r = got.head
    assert(r.getAs[Long]("component") === 1L)
    assert(r.getAs[Long]("n_members") === 3L)
    assert(r.getAs[Long]("n_pairs") === 3L)
    val cp = r.getAs[Long]("mean_cos_ppm")
    assert(cp > 999000L && cp <= 1000000L, s"near-identical trio should be ~1e6, got $cp")
  }

  test("Dedup.weightedJaccardPairs: identical multisets score 1.0; non-colliding docs never pair") {
    val docs = Seq(
      (1L, "alpha alpha beta"),
      (2L, "alpha alpha beta"),
      (3L, "completely different terms"),
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignaturesNative(docs, "doc_id", "text", n = 3, k = 16)
    val got = Dedup
      .weightedJaccardPairsFromSigs(docs, "doc_id", "text", sigs, rowsPerBand = 4, tauPpm = 300000L)
      .collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) === ((1L, 2L)))
    assert(r.getAs[Long]("inter") === 3L)
    assert(r.getAs[Long]("uni") === 3L)
    assert(r.getAs[Long]("wj_ppm") === 1000000L)
  }
}
