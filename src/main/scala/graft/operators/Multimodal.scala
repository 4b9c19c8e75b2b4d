package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column support for training-data
  * pipelines: media travel as opaque `binary` columns with typed metadata
  * beside them, exactly like a lakehouse media table at 100 TB.
  *
  * Design split:
  *   - everything METADATA-shaped (byte fingerprints, dedup, caption +
  *     embedding joint filtering) is pure Column algebra — codegen'd,
  *     pushdown-friendly, no byte decoding on the hot path;
  *   - the DECODE boundary (pixels/frames) runs per-partition over the
  *     typed Dataset — the Scala analog of an Arrow-batched decode UDF:
  *     one iterator pass per partition, bounded memory, schema fixed by
  *     case classes. The pixel math itself is a clearly-marked
  *     deterministic STUB (this container has no imaging libraries); the
  *     Spark plumbing — schema, batch iteration, partitioning — is real
  *     and tested, and a real decoder drops in by replacing the stub body.
  */
object Multimodal {

  // --- decode boundary (typed, per-partition) ------------------------------

  /** Input row shape for the decode stage. */
  final case class MediaRow(
      media_id: Long, kind: String, width: Int, height: Int,
      bytes: Array[Byte])

  /** Decoded feature row: what a real image decode would emit. */
  final case class MediaFeatures(
      media_id: Long, kind: String, width: Int, height: Int,
      n_bytes: Long, mean_luma: Double, phash: Long)

  /** STUB pixel decode: mean byte value stands in for mean luma. A real
    * decoder (JPEG/PNG → pixels) replaces exactly this function. */
  private[operators] def decodeStub(bytes: Array[Byte]): Double =
    if (bytes.isEmpty) 0.0
    else {
      var s = 0L; var i = 0
      while (i < bytes.length) { s += (bytes(i) & 0xFF); i += 1 }
      s.toDouble / bytes.length
    }

  /** STUB perceptual hash: 64 block means thresholded on the global mean —
    * the standard aHash shape, computed over raw bytes instead of decoded
    * grayscale pixels. Deterministic; equal payloads hash equal. */
  private[operators] def phashStub(bytes: Array[Byte]): Long = {
    if (bytes.isEmpty) return 0L
    val block = math.max(1, bytes.length / 64)
    val means = new Array[Double](64)
    var i = 0
    while (i < 64) {
      val from = i * block
      val to = math.min(bytes.length, from + block)
      if (from < bytes.length) {
        var s = 0L; var j = from
        while (j < to) { s += (bytes(j) & 0xFF); j += 1 }
        means(i) = s.toDouble / (to - from)
      }
      i += 1
    }
    val avg = means.sum / 64
    var acc = 0L
    i = 0
    while (i < 64) { if (means(i) > avg) acc |= (1L << i); i += 1 }
    acc
  }

  /** STUB resize: stride-subsample the payload to the byte budget of the
    * target dimensions (a real implementation decodes, resamples pixels,
    * re-encodes — same binary → binary signature and batch shape). */
  private[operators] def resizeStub(bytes: Array[Byte], srcW: Int, srcH: Int,
      dstW: Int, dstH: Int): Array[Byte] = {
    val target = math.max(1, dstW * dstH * 3)
    if (bytes.length <= target) bytes
    else {
      val out = new Array[Byte](target)
      var i = 0
      while (i < target) {
        out(i) = bytes((i.toLong * bytes.length / target).toInt)
        i += 1
      }
      out
    }
  }

  /** STUB frame sampling: treat the payload as fixed-size frames and keep
    * every `stride`-th one (a real implementation demuxes the container
    * and decodes keyframes — same binary → array<binary> signature). */
  private[operators] def frameSampleStub(bytes: Array[Byte], frameSize: Int,
      stride: Int): Seq[Array[Byte]] = {
    require(frameSize > 0 && stride > 0)
    val nFrames = bytes.length / frameSize
    (0 until nFrames by stride).map { f =>
      java.util.Arrays.copyOfRange(bytes, f * frameSize, (f + 1) * frameSize)
    }
  }

  /** Frame-sample pass: one row per KEPT frame — media_id, frame index,
    * frame bytes. Per-partition iterator, memory bounded by one payload. */
  def sampledFrames(media: DataFrame, frameSize: Int, stride: Int)
      : Dataset[(Long, Int, Array[Byte])] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "width", "height", "bytes")
      .as[MediaRow]
      .mapPartitions(_.flatMap { m =>
        frameSampleStub(m.bytes, frameSize, stride).iterator.zipWithIndex
          .map { case (frame, i) => (m.media_id, i * stride, frame) }
      })
  }

  /** Decode + feature-extract, one iterator pass per partition (the
    * Arrow-batch shape). Feature columns come out typed and columnar for
    * everything downstream — decode runs once, at the boundary. */
  def decodeFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "width", "height", "bytes")
      .as[MediaRow]
      .mapPartitions(_.map { m =>
        MediaFeatures(m.media_id, m.kind, m.width, m.height,
          m.bytes.length.toLong, decodeStub(m.bytes), phashStub(m.bytes))
      })
  }

  /** Resize pass: binary in, binary out, per-partition. */
  def resized(media: DataFrame, dstW: Int, dstH: Int)
      : Dataset[(Long, Array[Byte])] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "width", "height", "bytes")
      .as[MediaRow]
      .mapPartitions(_.map(m =>
        (m.media_id, resizeStub(m.bytes, m.width, m.height, dstW, dstH))))
  }

  /** Perceptual near-duplicate media pairs: one decode pass extracts the
    * 64-bit phash, then [[Dedup.hammingNearDupPairs]] blocks on 16-bit
    * chunks — the pair join runs over 8-byte signatures in the metadata
    * plane; payload bytes are read exactly once and never join. */
  def phashNearDupPairs(media: DataFrame, maxDist: Int = 3): DataFrame =
    Dedup.hammingNearDupPairs(
      decodeFeatures(media).toDF().select(col("media_id"), col("phash")),
      maxDist, sigCol = "phash", idCol = "media_id")

  // --- metadata-plane operators (pure Column algebra) ----------------------

  /** Portable byte fingerprint: md5 over the hex expansion (DuckDB's md5
    * takes VARCHAR only; Spark and DuckDB `hex` agree byte-for-byte). */
  def byteFingerprint(bytes: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = md5(hex(bytes))

  /** Exact byte-level duplicate groups: fingerprint → keeper (min id),
    * group size. One groupBy on a 128-bit digest — same 100 TB shape as
    * [[Dedup.exactGroups]]; the payload never shuffles, only its hash. */
  def byteDedupGroups(media: DataFrame, bytesCol: String = "bytes",
      idCol: String = "media_id"): DataFrame =
    media.select(byteFingerprint(col(bytesCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(idCol).as("keeper"), count(lit(1)).as("group_size"))

  /** A pair source for [[jointFilter]]: given the caption-passing set, a
    * cosine threshold and the id column, produce candidate near-duplicate
    * pairs `(id_a, id_b)` with `id_a < id_b`. */
  type PairSource = (DataFrame, Double, String) => DataFrame

  /** The 100 TB pair source: LSH-blocked cosine pairs
    * ([[Similarity.cosineNearDupPairs]] — per-bucket joins, never
    * all-pairs). Bucket count is sized to the candidate set and the
    * embedding dim is read from one row — two tiny planning actions. An
    * empty candidate set (every caption filtered out) short-circuits to an
    * empty pair frame instead of dying on the dim probe. */
  def lshPairs(bands: Int = 4): PairSource = (pass, threshold, idCol) => {
    // probe only rows that HAVE an embedding: a NULL-embedding row
    // (partial backfill) made size() return NULL and getInt(0) threw —
    // a flaky, limit(1)-dependent crash (r14 review); null-embedding
    // rows cannot pair anyway
    val emb = pass.select(col(idCol), col("embedding"))
      .filter(col("embedding").isNotNull)
    emb.select(size(col("embedding")).as("d")).limit(1).collect()
      .headOption match {
      case None =>
        emb.filter(lit(false))
          .select(col(idCol).as("id_a"), col(idCol).as("id_b"))
      case Some(row) =>
        val dim = row.getInt(0)
        val n = emb.count()
        Similarity.cosineNearDupPairs(emb, threshold,
          Similarity.nBitsFor(n), dim, bands, "embedding", idCol)
    }
  }

  /** Exact all-pairs source ([[Similarity.cosineNearDupPairsExact]]) —
    * O(n²), the fixture/oracle anchor, never the corpus-scale path. */
  val exactPairs: PairSource = (pass, threshold, idCol) =>
    Similarity.cosineNearDupPairsExact(
      pass.select(col(idCol), col("embedding")), threshold, "embedding", idCol)

  /** Joint text + embedding corpus filter: keep media whose caption passes
    * the token-count gate, then collapse each embedding-cosine
    * near-duplicate CLUSTER (connected component over pairs with cosine ≥
    * `dupThreshold`) to its min-id representative — the same keeper
    * decision as [[Dedup.dedupCorpus]], and a well-defined one (the
    * round-2 form dropped any row similar to ANY lower-id caption-passing
    * row, which is neither cluster-collapse nor the greedy-survivor scan
    * its doc promised). Cluster-collapse keeps exactly ONE row per
    * component: in a star a≈c, b≈c with a<b<c and a̸≈b, only `a` survives
    * — a sequential greedy scan would keep `b` too, but greedy is
    * order-dependent and inherently serial, the wrong contract for a
    * distributed corpus filter.
    *
    * `pairSource` defaults to the LSH-blocked [[lshPairs]] (the scale
    * path); pass [[exactPairs]] when an exact small-set answer is wanted
    * (it is what the q51 fixture oracle anchors). */
  def jointFilter(media: DataFrame, minCaptionTokens: Int,
      dupThreshold: Double, idCol: String = "media_id",
      pairSource: PairSource = lshPairs()): DataFrame = {
    val nTokens = size(TextAnalysis.tokens(col("caption")))
    // Persisted for the pair-finding phase only: the caption-passing set
    // feeds the pair source's planning actions (row count + dim probe) and
    // the per-band bucket joins — separate ACTIONS, so ReusedExchange
    // cannot share the scan across them; without the cache the media scan
    // + token gate re-runs 3-4×. The drop-id set (tiny: ids only, no
    // payload) is materialized via localCheckpoint, then the cache is
    // RELEASED before returning — a long bench session must not
    // accumulate payload-sized cached frames (the r4 driver bench showed
    // exactly that pressure). The returned plan re-derives the token gate
    // from `media` directly: one cheap narrow scan when the caller acts.
    val pass = media.filter(nTokens >= minCaptionTokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val drops =
      try {
        val pairs = pairSource(pass, dupThreshold, idCol)
        Dedup.nearDupDuplicates(pairs).select(col("id").as(idCol))
          .transform(Materialize.cut)
      } finally pass.unpersist()
    media.filter(nTokens >= minCaptionTokens)
      .join(drops, Seq(idCol), "left_anti")
  }
}
