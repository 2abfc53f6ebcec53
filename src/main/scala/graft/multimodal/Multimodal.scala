package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing: media travel as
  * opaque `binary` columns with typed metadata, exactly like a 100 TB
  * training-data lake stores them. The Spark-side machinery — schemas,
  * typed Datasets, partition-iterator batch processing, generators over
  * frames — is real; only the pixel/sample DECODE is a deterministic
  * stub (`StubDecoder`), because no image/audio codec ships in this
  * environment. Swapping the stub for a real codec changes no plan
  * shape.
  */
object Multimodal {

  /** A stored media object: opaque bytes + typed envelope. */
  final case class Media(
      media_id: Long, kind: String, content: Array[Byte])

  /** Decoded per-object features (fixed schema regardless of codec). */
  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      checksum: Long, feature: Array[Double])

  /** Build a media table from the documents corpus: content is the
    * UTF-8 text bytes; kind cycles image/audio/video. Stand-in for a
    * real object-store scan of binary payloads. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("content"))

  // ------------------------------------------------------------ STUB ----
  /** Deterministic fake decoder. A real implementation would parse the
    * container format here (JPEG/FLAC/MP4); everything downstream is
    * agnostic to that. */
  object StubDecoder {
    /** Fake per-object feature vector: k moments of the byte stream. */
    def features(bytes: Array[Byte], k: Int = 4): Array[Double] = {
      val out = new Array[Double](k)
      var i = 0
      while (i < bytes.length) {
        var j = 0
        while (j < k) {
          out(j) += ((bytes(i) & 0xff) % (17 + j)).toDouble
          j += 1
        }
        i += 1
      }
      out
    }
    def checksum(bytes: Array[Byte]): Long =
      bytes.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)
  }
  // ----------------------------------------------------------------------

  /** Typed partition-iterator decode: the batch shape a real codec
    * needs (amortize codec init per partition, stream records through).
    * Runs distributed; schema is the fixed [[MediaFeatures]]. */
  def decodeFeatures(media: Dataset[Media]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec init would happen here (once, not per row)
      it.map { m =>
        MediaFeatures(m.media_id, m.kind, m.content.length.toLong,
          StubDecoder.checksum(m.content), StubDecoder.features(m.content))
      }
    }
  }

  /** Expression-level metadata decode (no codec needed): byte length,
    * content fingerprint, and stub dimensions derived deterministically
    * from the byte length — codegen'd, oracle-checkable. */
  def mediaMeta(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("kind"),
      length(col("content")).cast("long").as("n_bytes"),
      md5(col("content")).as("fp"),
      (lit(64) + length(col("content")) % 256).cast("long").as("width"),
      (lit(64) + (length(col("content")) * 7) % 256).cast("long").as("height"))

  /** Decimating "resize" over image media: keep every `stride`-th
    * content byte ([[graft.functions.ByteStride]], the declared stand-
    * in for a pixel-subsampling codec kernel) and emit the size-
    * reduction envelope + output fingerprint. Pure map over the scan —
    * the shape of a thumbnailing pass, shrinking shuffle bytes by
    * `stride` before any downstream move. */
  def resizeStub(media: DataFrame, stride: Int = 4): DataFrame = {
    val resized = graft.functions.ByteStride(col("content"), stride)
    media.filter(col("kind") === "image")
      .select(col("media_id"),
        length(col("content")).cast("long").as("n_bytes_in"),
        length(resized).cast("long").as("n_bytes_out"),
        md5(resized).as("fp_out"))
  }

  /** Overlapping analysis windows over audio media: fixed `win`-byte
    * windows every `hop` bytes (hop < win ⇒ 50 % overlap at the
    * defaults) over the raw sample stream, each window fingerprinted
    * from its actual content slice — the framing pass every audio
    * featurizer (MFCC, fbank) runs before its transform. Generator +
    * byte-slice + hash, all codegen'd expressions over one scan; only
    * full windows are emitted (trailing partial frames carry no full
    * feature), which also keeps the `sequence` builder off the
    * descending-range edge case for short objects. */
  def audioWindows(media: DataFrame, win: Int = 256, hop: Int = 128): DataFrame =
    media.filter(col("kind") === "audio")
      .withColumn("n_bytes", length(col("content")))
      .filter(col("n_bytes") >= win)
      .withColumn("n_win", expr(s"(n_bytes - $win) div $hop + 1"))
      .select(col("media_id"), col("content"), col("n_win"),
        explode(sequence(lit(0L), col("n_win") - 1)).as("win_idx"))
      .withColumn("start_byte", col("win_idx") * hop)
      .select(col("media_id"), col("n_win"), col("win_idx"), col("start_byte"),
        md5(expr(s"substring(content, start_byte + 1, $win)")).as("win_fp"))

  /** 64-bit aHash-style perceptual fingerprint over the DECODED
    * byte/sample stream (StubDecoder stand-in: the content bytes
    * themselves; a real codec supplies the pixel/sample grid — the
    * plan shape is identical): the stream splits into 64 equal spans,
    * bit j = (span j's mean level > the stream's global mean) — the
    * classic average-hash construction, so near-identical media differ
    * in few bits and the hash drops straight into the SAME banded-LSH
    * machinery as text SimHash
    * ([[graft.text.Dedup.hashBandPairsManaged]]). The bit test is the
    * all-integer cross-multiplication `s*N > tot*c` (never a float
    * mean), so any engine replays every bit exactly.
    *
    * Scale shape: one generator pass explodes (id, pos, code) rows,
    * two hash aggregations with map-side partials collapse them to 64
    * block rows then 1 hash row per object — data movement is bounded
    * by id x block groups, not stream length. Returns
    * (media_id, sim_lo, sim_hi) as two 32-bit halves (exact BIGINT
    * arithmetic on both engines, same split as [[graft.text.Dedup]]'s
    * SimHash). */
  def perceptualHash(media: DataFrame): DataFrame = {
    // n is the CHARACTER count of the decoded stream — the same unit
    // `pos` indexes (splitting the string cast) — never the binary
    // byte length: one multi-byte character would otherwise skew every
    // block boundary after it and diverge from the char-counting
    // oracle
    val decoded = col("content").cast("string")
    // respread (guide §2.5): the per-CHARACTER posexplode below is the
    // heaviest row amplification in the multimodal family — one task
    // would own it all on a single-row-group input
    val codes = graft.functions.Spread.across(media)
      .filter(length(decoded) >= 1)
      .select(col("media_id"), length(decoded).cast("long").as("n"),
        posexplode(transform(split(decoded, ""),
          c => ascii(c).cast("long"))))
      .toDF("media_id", "n", "pos", "code")
    // block index by integer position scaling; 64*pos < 2^53 keeps the
    // double floor exact for any plausible object size
    val perBlock = codes
      .withColumn("blk", floor(col("pos") * lit(64.0) / col("n")).cast("long"))
      .groupBy("media_id", "blk")
      .agg(sum("code").as("s"), count(lit(1)).as("c"))
    val tots = perBlock.groupBy("media_id")
      .agg(sum("s").as("tot"), sum("c").as("nn"))
    perBlock.join(tots, "media_id")
      .withColumn("bit", col("s") * col("nn") > col("tot") * col("c"))
      .groupBy("media_id")
      .agg(
        sum(when(col("bit") && col("blk") < 32,
          pow(lit(2.0), col("blk")).cast("long")).otherwise(0L)).as("sim_lo"),
        sum(when(col("bit") && col("blk") >= 32,
          pow(lit(2.0), col("blk") - 32).cast("long")).otherwise(0L))
          .as("sim_hi"))
  }

  /** Multimodal near-duplicate pairs: [[perceptualHash]] fingerprints
    * fed through the text-dedup family's banded-LSH machinery — the
    * dedup operator for image/audio/video columns. Like every LSH
    * entry point, the hot-bucket cap defaults to the occupancy-scaled
    * [[graft.functions.Buckets.capFor]] derived from one bounded
    * count-star; drops surface via the "graft.lsh.phash" observation.
    * Returns (a, b, hamming) with a < b, hamming <= maxHamming. */
  def perceptualNearDupPairs(media: DataFrame, maxHamming: Int = 6,
      maxBucketSize: Option[Int] = None): DataFrame =
    perceptualNearDupPairsManaged(media, maxHamming, maxBucketSize)._1

  /** [[perceptualNearDupPairs]] plus a release handle for the capped
    * band cache (see [[graft.text.Dedup.minhashLshPairsManaged]] for
    * the call contract — release AFTER materializing). */
  def perceptualNearDupPairsManaged(media: DataFrame, maxHamming: Int = 6,
      maxBucketSize: Option[Int] = None): (DataFrame, () => Unit) = {
    // count() on the projected media frame prunes to a count-star of
    // the underlying source (Catalyst drops the unreferenced
    // projection exprs), so this stays the same bounded action as the
    // text entry points' source counts
    val cap = maxBucketSize.getOrElse(graft.functions.Buckets.capFor(
      media.count(), graft.functions.Buckets.BandBits))
    graft.text.Dedup.hashBandPairsManaged(
      perceptualHash(media).withColumnRenamed("media_id", "id"),
      maxHamming, cap, "graft.lsh.phash")
  }

  /** Frame sampling for video media: one row per sampled frame index
    * (every `stride`-th frame of n_bytes/bytesPerFrame fake frames),
    * frame fingerprint derived from content fp + index. The generator
    * shape (explode over a per-row sequence) is the real plan a frame
    * sampler produces. */
  def sampleFrames(media: DataFrame, bytesPerFrame: Int = 100,
      stride: Int = 2): DataFrame = {
    val nFrames = (length(col("content")) / bytesPerFrame + 1).cast("long")
    media.filter(col("kind") === "video")
      .select(col("media_id"), md5(col("content")).as("content_fp"),
        nFrames.as("n_frames"))
      .select(col("media_id"), col("content_fp"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1,
          lit(stride.toLong))).as("frame_idx"))
      .withColumn("frame_fp",
        md5(concat(col("content_fp"), lit("|"),
          col("frame_idx").cast("string"))))
  }
}
