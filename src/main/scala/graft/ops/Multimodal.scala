package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads carried beside
  * relational columns, with typed metadata and batched feature
  * extraction.
  *
  * Parquet stores binary natively, so images/audio/video ride the same
  * partitioning, predicate pushdown, and column pruning as everything
  * else; only the `content` column pays the byte cost, and queries that
  * don't touch it never read it.
  *
  * Decoding is pluggable behind [[MediaDecoder]], the explicit
  * extension-point contract: implementations see `batchSize` payloads
  * at a time (the seam where a vectorized decoder amortizes
  * model/codec init) and MUST be row-level error-isolating — one
  * corrupt payload yields one failed feature row, never a task
  * failure (the ST7 discipline applied to media). The shipped
  * decoders ([[ByteStatsDecoder]], [[AudioWindowDecoder]]) are
  * deterministic byte-derived forms whose output any engine can
  * reproduce — the oracle-gated path; heavyweight codecs stay out of
  * the differential harness by design.
  */
object Multimodal {

  /** Deterministic per-item features the stub "decoder" emits. */
  final case class MediaFeature(doc_id: Long, n_bytes: Int, head_byte: Int, checksum: String)

  /** One fixed-size sample window of an audio-style payload:
    * `energy` = Σ sample² over the window (integer — no float drift),
    * `n_samples` < the window size only on the tail window. */
  final case class AudioWindow(window_id: Int, n_samples: Int, energy: Long)

  /** Per-payload windowed "audio" features ([[AudioWindowDecoder]]). */
  final case class AudioWindowSet(doc_id: Long, windows: Seq[AudioWindow])

  /** The decode extension point. `decodeBatch` receives up to
    * `batchSize` (id, payload) pairs; the default implementation maps
    * the per-item `decode`, vectorized decoders override the batch
    * method and reuse per-batch state (a model handle, a codec
    * context). Implementations must return exactly one feature per
    * input (order-preserving) and must catch their own per-item
    * failures — the contract is row-isolating by construction. */
  trait MediaDecoder[F] extends Serializable {
    def decode(docId: Long, bytes: Array[Byte]): F
    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[F] =
      batch.map { case (id, b) => decode(id, b) }
  }

  /** The deterministic fake: features derived from the raw bytes, so
    * the full mapPartitions pipeline is differentially checkable
    * against a SQL oracle (md5/byte arithmetic exist in any engine). */
  object ByteStatsDecoder extends MediaDecoder[MediaFeature] {
    def decode(docId: Long, bytes: Array[Byte]): MediaFeature =
      MediaFeature(
        doc_id = docId,
        n_bytes = bytes.length,
        head_byte = if (bytes.isEmpty) -1 else bytes(0) & 0xff,
        checksum = md5Hex(bytes),
      )
  }

  /** Audio-feature plumbing on the decoder contract: the payload is
    * treated as a mono sample stream (one unsigned byte per sample —
    * the deterministic stand-in for the PCM16 decode a real codec
    * would do; THAT step is the stub, per the multimodal mandate) and
    * windowed into fixed `windowSamples` frames with per-window
    * integer energy Σ s². The windowing, batching, and schema are the
    * real Spark-side plumbing; the oracle replays the byte arithmetic
    * exactly (`ascii(substr(...))` — the corpus is pure ASCII, so
    * byte == codepoint). */
  final class AudioWindowDecoder(windowSamples: Int = 256)
      extends MediaDecoder[AudioWindowSet] {
    require(windowSamples > 0, "windowSamples must be positive")
    def decode(docId: Long, bytes: Array[Byte]): AudioWindowSet = {
      val windows = Vector.newBuilder[AudioWindow]
      var w = 0
      while (w * windowSamples < bytes.length) {
        val start = w * windowSamples
        val end   = math.min(start + windowSamples, bytes.length)
        var (i, energy) = (start, 0L)
        while (i < end) {
          val s = (bytes(i) & 0xff).toLong
          energy += s * s
          i += 1
        }
        windows += AudioWindow(w, end - start, energy)
        w += 1
      }
      AudioWindowSet(docId, windows.result())
    }
  }

  /** Windowed audio-style energies, one row per (doc, window). */
  def audioWindowEnergy(
      media: DataFrame,
      windowSamples: Int = 256,
      batchSize: Int = 64,
  ): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    decodeWith(media, new AudioWindowDecoder(windowSamples), batchSize)
      .toDF()
      .select(col("doc_id"), explode(col("windows")).as("w"))
      .select(col("doc_id"), col("w.window_id"), col("w.n_samples"), col("w.energy"))
  }

  /** Pack a text corpus into the multimodal shape: (doc_id, content
    * binary, meta struct) — the layout a real pipeline would land
    * images into. */
  def packDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("content"),
      struct(
        lit("text/plain").as("mime"),
        octet_length(col("text")).as("n_bytes"),
        col("source").as("source"),
      ).as("meta"),
    )

  /** Batched feature extraction over the binary column with an
    * arbitrary [[MediaDecoder]].
    *
    * `mapPartitions` + `grouped(batchSize)` is the Scala analog of a
    * pandas-batch UDF: the decoder sees `batchSize` payloads at a
    * time, so a vectorized implementation can amortize per-batch
    * state. Runs fully parallel per partition; no state crosses
    * batches. Only (doc_id, content) is read — metadata columns are
    * pruned before the payload bytes move.
    */
  def decodeWith[F: org.apache.spark.sql.Encoder](
      media: DataFrame,
      decoder: MediaDecoder[F],
      batchSize: Int = 64,
  ): Dataset[F] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.grouped(batchSize).flatMap(decoder.decodeBatch))
  }

  /** The oracle-gated extraction path: [[decodeWith]] on
    * [[ByteStatsDecoder]]. */
  def extractFeatures(media: DataFrame, batchSize: Int = 64): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    decodeWith(media, ByteStatsDecoder, batchSize)
  }

  /** Deterministic fake "frame sampling": n evenly spaced fixed-width
    * byte slices of the payload (a real video pipeline returns decoded
    * frames; the slicing/array shape is what downstream operators see). */
  def frameSample(content: org.apache.spark.sql.Column, n: Int, frameBytes: Int): org.apache.spark.sql.Column =
    transform(
      sequence(lit(0), lit(n - 1)),
      i => content.substr(lit(1) + i * greatest(octet_length(content).cast("int") / n, lit(1)).cast("int"), lit(frameBytes)),
    )

  /** ViT-style patch grid planner: treat the payload as `rowBytes`-wide
    * raster rows and tile COMPLETE `patchW`×`patchH` patches — one
    * struct per patch with grid coordinates (px, py), the pixel box
    * (x0, y0), and the byte offset of the patch's first byte — the
    * coordinate plan a vision tokenizer hands its decode kernel
    * (decode itself is stubbed per the multimodal contract; the
    * Spark-side geometry, explode shape, and offsets are real).
    * Partial rows/patches are clipped, so every emitted patch is fully
    * backed by payload bytes. Pure Column arithmetic — map-only at any
    * corpus size. */
  def patchGrid(
      content: org.apache.spark.sql.Column,
      rowBytes: Int,
      patchW: Int,
      patchH: Int,
  ): org.apache.spark.sql.Column = {
    require(rowBytes % patchW == 0, s"rowBytes must be a multiple of patchW ($rowBytes % $patchW)")
    val nCols = rowBytes / patchW
    val nRows = (octet_length(content) / rowBytes).cast("int") // complete raster rows
    val nPy   = (nRows / patchH).cast("int")                   // complete patch rows
    filter(
      transform(
        sequence(lit(0), greatest(nPy * nCols, lit(1)) - 1),
        i => {
          val py = (i / nCols).cast("int")
          val px = (i % nCols).cast("int")
          struct(
            i.cast("int").as("patch_id"),
            px.as("px"),
            py.as("py"),
            (px * patchW).as("x0"),
            (py * patchH).as("y0"),
            ((py * patchH).cast("long") * rowBytes + px * patchW).as("byte_offset"),
          )
        },
      ),
      // sequence() can't be empty (negative bound errors), so a too-
      // small payload generates one dummy element; the range test
      // drops it — empty payloads yield zero patches.
      p => p.getField("patch_id") < nPy * nCols,
    )
  }

  /** Aspect-ratio bucket assignment — the batching planner diffusion /
    * ViT training pipelines use so variable-shape images batch without
    * destructive square cropping: each (width, height) is assigned the
    * ladder bucket whose aspect ratio is nearest to its own, and
    * batches are later formed within a bucket.
    *
    * Nearness is EXACT integer arithmetic: the distance of w/h to
    * bw/bh is |w·bh − h·bw| / (h·bh); ranking divides out h (constant
    * per image) and scales by 10⁹ with flooring — `score_e9 =
    * ⌊|w·bh − h·bw|·10⁹ / (h·bh)⌋` — so any engine replays the argmin;
    * floor-collision ties break to the SMALLEST bucket id
    * (deterministic, stated, and replayable — the fold keeps the
    * incumbent on equality).
    *
    * Scale shape: a map-only fold over the broadcast-literal ladder —
    * no explode, no shuffle, stays inside whole-stage codegen.
    *
    * @param ladder (bucket_w, bucket_h) pairs; bucket_id = index. */
  def aspectBuckets(
      df: DataFrame,
      idCol: String,
      wCol: String,
      hCol: String,
      ladder: Seq[(Int, Int)],
  ): DataFrame = {
    require(ladder.nonEmpty && ladder.forall { case (w, h) => w > 0 && h > 0 },
      s"ladder must be non-empty positive dims: $ladder")
    val lad = array(ladder.zipWithIndex.map { case ((bw, bh), i) =>
      struct(lit(i).as("bid"), lit(bw).as("bw"), lit(bh).as("bh"))
    }: _*)
    def scoreOf(b: org.apache.spark.sql.Column) = {
      val w   = col(wCol).cast("long")
      val h   = col(hCol).cast("long")
      val num = abs(w * b.getField("bh").cast("long") - h * b.getField("bw").cast("long")) *
        lit(1000000000L)
      val den = h * b.getField("bh").cast("long")
      // exact integer floor div in Column algebra (no `div` operator on
      // Column): num − pmod leaves an exact multiple of den, and the
      // double division of exact operands < 2^53 is exact.
      ((num - pmod(num, den)) / den).cast("long")
    }
    val init = struct(
      lit(Long.MaxValue).as("s"),
      lit(-1).as("bid"),
      lit(0).as("bw"),
      lit(0).as("bh"),
    )
    val best = aggregate(
      lad,
      init,
      (acc, b) => {
        val s = scoreOf(b)
        when(
          s < acc.getField("s"),
          struct(
            s.as("s"),
            b.getField("bid").as("bid"),
            b.getField("bw").as("bw"),
            b.getField("bh").as("bh"),
          ),
        ).otherwise(acc)
      },
    )
    df.withColumn("__b", best)
      .select(
        col(idCol),
        col(wCol),
        col(hCol),
        col("__b.bid").as("bucket_id"),
        col("__b.bw").as("bucket_w"),
        col("__b.bh").as("bucket_h"),
        col("__b.s").as("score_e9"),
      )
  }

  /** Perceptual hash (aHash, the average-hash family every image-dedup
    * pipeline starts with): the payload's [[audioWindowEnergy]] cell
    * energies — the deterministic stand-in for the decoded-pixel grid a
    * real image pipeline would average — thresholded against the
    * payload's own mean: bit w = 1 iff cell w's energy is strictly
    * above the mean of the first `cells` cells. Two re-encodes of the
    * same content that differ in a few bytes land on the same or a
    * near hash, which byte-exact [[dedupBinary]] cannot see.
    *
    * Composition is the multimodal story: batched DECODE (the
    * [[MediaDecoder]] contract) → per-cell energies → one bounded
    * collect_list per doc (≤ `cells` structs — the per-group state is
    * the GRID, never the payload) → a map-only higher-order fold for
    * mean-threshold bits. Payload bytes never shuffle; the signature is
    * integer arithmetic end-to-end, so a SQL engine replays every bit.
    * Docs with an empty payload have no cells and no hash (absent, the
    * [[audioWindowEnergy]] convention).
    *
    * `cells` ≤ 63 keeps the hash in a BIGINT. With the default 16
    * cells this is an EXACT-match signature (group on it — see
    * [[phashGroups]]); Hamming-banded pair generation wants ≥ 64 bits
    * to keep band buckets selective at corpus scale, which byte-stream
    * cells cannot honestly provide on short documents — that fuzzy
    * ladder lives in [[Similarity]]/[[Dedup]] over 64-bit SimHash. */
  def perceptualHash(media: DataFrame, cells: Int = 16, cellBytes: Int = 64): DataFrame = {
    require(cells >= 1 && cells <= 63, s"cells must fit a BIGINT bit index, got $cells")
    audioWindowEnergy(media, cellBytes)
      .where(col("window_id") < cells)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("window_id").as("w"), col("energy").as("e"))).as("cs"))
      .select(
        col("doc_id"),
        expr(
          // strict >: an all-equal grid (e.g. constant bytes) hashes to 0
          // rather than all-ones, matching the aHash convention
          """aggregate(cs, 0L, (acc, c) ->
            |  acc + CASE WHEN c.e * size(cs) > aggregate(cs, 0L, (a2, c2) -> a2 + c2.e)
            |             THEN shiftleft(1L, c.w) ELSE 0L END)""".stripMargin
        ).as("phash"),
      )
  }

  /** Perceptual dedup groups: one hash-groupBy on [[perceptualHash]] —
    * the multimodal twin of [[Dedup.exactGroups]] one level up the
    * robustness ladder from [[dedupBinary]] (byte-identical →
    * perceptually-identical). Shuffles (phash, id) pairs only. */
  def phashGroups(media: DataFrame, cells: Int = 16, cellBytes: Int = 64): DataFrame =
    perceptualHash(media, cells, cellBytes)
      .groupBy(col("phash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))

  /** NEAR-duplicate perceptual-hash pairs — the multimodal rung above
    * [[phashGroups]]' exact-signature collapse: pairs whose
    * [[perceptualHash]] signatures differ in at most `maxHamming`
    * bits. Candidate generation is the SimHash pigeonhole
    * ([[Dedup.simhashPairs]]'s discipline applied to the payload
    * signature): the `cells`-bit hash splits into `bands` disjoint
    * bands, and any pair within Hamming distance < `bands` shares at
    * least one intact band — so a band-keyed self-join surfaces every
    * qualifying pair (complete, never all-pairs), and one
    * `bit_count(xor)` verifies the exact distance. Requires
    * `maxHamming < bands` for the pigeonhole to be complete. Payload
    * bytes never shuffle — only (band value, id) pairs and the
    * 64-bit signatures.
    *
    * @return (a_id, b_id, hamming) with a_id < b_id, hamming ≤
    *         maxHamming. */
  def phashNearPairs(
      media: DataFrame,
      cells: Int = 16,
      cellBytes: Int = 64,
      bands: Int = 4,
      maxHamming: Int = 3,
  ): DataFrame = {
    require(bands >= 1 && cells % bands == 0, s"bands must divide cells, got $bands/$cells")
    require(
      maxHamming >= 0 && maxHamming < bands,
      s"pigeonhole completeness needs maxHamming < bands, got $maxHamming/$bands",
    )
    val bandBits = cells / bands
    val mask     = (1L << bandBits) - 1
    // consumed twice (banding + both verify probes): one signature pass
    val ph = perceptualHash(media, cells, cellBytes).localCheckpoint(eager = false)
    val banded = ph.select(
      col("doc_id"),
      posexplode(
        array((0 until bands).map(b => expr(s"(phash >> ${b * bandBits}) & $mask")): _*)
      ).as(Seq("band", "bval")),
    )
    val cand = banded
      .as("a")
      .join(
        banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"),
      )
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    cand
      .join(ph.select(col("doc_id").as("a_id"), col("phash").as("__pa")), Seq("a_id"))
      .join(ph.select(col("doc_id").as("b_id"), col("phash").as("__pb")), Seq("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        expr("CAST(bit_count(__pa ^ __pb) AS BIGINT)").as("hamming"),
      )
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact dedup over the binary payload — the multimodal twin of
    * [[Dedup.exactGroups]]: identical byte streams (re-crawled images,
    * re-encoded copies of the same upload) collapse on their 128-bit
    * content hash; the smallest id is the canonical keep, the copy
    * count is retained for curation stats. One hash-groupBy shuffle
    * keyed on the digest — the payload bytes never travel the wire,
    * only (checksum, id) pairs after the map-side hash, which is what
    * makes this viable when the payload column is the 100 TB. */
  def dedupBinary(media: DataFrame, idCol: String, contentCol: String): DataFrame =
    media
      .groupBy(md5(col(contentCol)).as("checksum"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(bytes)
      .map("%02x".format(_))
      .mkString
}
