package graft.queries

import graft.multimodal.Multimodal
import graft.sources.Tables

/** Multimodal plumbing surfaced through the correctness gate: the
  * media table is synthesized from documents (text bytes as opaque
  * content), so DuckDB can rebuild the binary-side results from the
  * text side (identical UTF-8 bytes).
  */
object MultimodalQueries {

  private val mediaCte =
    """WITH media AS (
      |  SELECT doc_id AS media_id,
      |         CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
      |              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |         text AS content
      |  FROM documents)
      |""".stripMargin

  /** m05's full perceptual-hash near-dup pipeline as oracle CTEs
    * (aHash 64-bit fingerprint -> 16-bit bands -> candidate join ->
    * Hamming filter), ending in `pairs (a, b, hamming)`. Shared by the
    * m05 pair query and the m06 keep composition, exactly as the Spark
    * side shares Multimodal.perceptualNearDupPairs. */
  private val phashPairsCtes =
    """codes AS (
      |  SELECT media_id, len(content) AS n,
      |         unnest(list_transform(range(1, len(content) + 1),
      |           i -> {'p': i - 1,
      |                 'cd': CAST(ascii(content[i:i]) AS BIGINT)})) AS u
      |  FROM media WHERE len(content) >= 1),
      |c2 AS (SELECT media_id, n, u.p AS pos, u.cd AS code FROM codes),
      |pb AS (
      |  SELECT media_id, CAST(floor(pos * 64.0 / n) AS BIGINT) AS blk,
      |         sum(code) AS s, count(*) AS c
      |  FROM c2 GROUP BY 1, 2),
      |tots AS (SELECT media_id, sum(s) AS tot, sum(c) AS nn
      |         FROM pb GROUP BY 1),
      |h AS (
      |  SELECT pb.media_id,
      |         CAST(sum(CASE WHEN s * nn > tot * c AND blk < 32
      |                       THEN (1::BIGINT << CAST(blk AS INTEGER))
      |                       ELSE 0 END) AS BIGINT) AS sim_lo,
      |         CAST(sum(CASE WHEN s * nn > tot * c AND blk >= 32
      |                       THEN (1::BIGINT << CAST(blk - 32 AS INTEGER))
      |                       ELSE 0 END) AS BIGINT) AS sim_hi
      |  FROM pb JOIN tots USING (media_id) GROUP BY 1),
      |bands AS (
      |  SELECT media_id, sim_lo, sim_hi, unnest([
      |           '0|' || CAST(sim_lo & 65535 AS VARCHAR),
      |           '1|' || CAST((sim_lo >> 16) & 65535 AS VARCHAR),
      |           '2|' || CAST(sim_hi & 65535 AS VARCHAR),
      |           '3|' || CAST((sim_hi >> 16) & 65535 AS VARCHAR)]) AS band
      |  FROM h),
      |cand AS (
      |  SELECT DISTINCT a.media_id AS a, b.media_id AS b,
      |         a.sim_lo AS loa, a.sim_hi AS hia,
      |         b.sim_lo AS lob, b.sim_hi AS hib
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.media_id < b.media_id),
      |pairs AS (
      |  SELECT a, b,
      |         CAST(bit_count(xor(loa, lob)) + bit_count(xor(hia, hib))
      |              AS BIGINT) AS hamming
      |  FROM cand
      |  WHERE bit_count(xor(loa, lob)) + bit_count(xor(hia, hib)) <= 6)
      |""".stripMargin

  val all: Map[String, Q] = Map(

    // typed metadata decode over opaque binary content.
    "m01_media_meta" -> Q(
      mediaCte +
        """SELECT media_id, kind,
          |       octet_length(encode(content)) AS n_bytes,
          |       md5(content) AS fp,
          |       64 + octet_length(encode(content)) % 256 AS width,
          |       64 + (octet_length(encode(content)) * 7) % 256 AS height
          |FROM media ORDER BY media_id""".stripMargin) { (s, d) =>
      Multimodal.mediaMeta(
          Multimodal.mediaFromDocuments(Tables.documents(s, d)))
        .orderBy("media_id")
    },

    // frame sampling: generator over per-row fake frame sequences.
    "m02_frame_sample" -> Q(
      mediaCte +
        """SELECT media_id, n_frames, frame_idx,
          |       md5(content_fp || '|' || CAST(frame_idx AS VARCHAR)) AS frame_fp
          |FROM (
          |  SELECT media_id, md5(content) AS content_fp,
          |         octet_length(encode(content)) // 100 + 1 AS n_frames
          |  FROM media WHERE kind = 'video'),
          |  LATERAL (SELECT unnest(range(0, n_frames, 2)) AS frame_idx)
          |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
      Multimodal.sampleFrames(
          Multimodal.mediaFromDocuments(Tables.documents(s, d)),
          bytesPerFrame = 100, stride = 2)
        .select("media_id", "n_frames", "frame_idx", "frame_fp")
        .orderBy("media_id", "frame_idx")
    },

    // decimating resize over image media (graft.functions.ByteStride):
    // every 4th content byte survives; the oracle replays the byte
    // decimation as character slicing (the corpus is pure ASCII, so
    // byte k IS character k and the md5s coincide).
    "m03_resize_stub" -> Q(
      mediaCte +
        """SELECT media_id,
          |       octet_length(encode(content)) AS n_bytes_in,
          |       CAST((octet_length(encode(content)) + 3) // 4 AS BIGINT)
          |         AS n_bytes_out,
          |       md5(array_to_string(list_transform(
          |             range(1, len(content) + 1, 4), i -> content[i:i]), ''))
          |         AS fp_out
          |FROM media WHERE kind = 'image'
          |ORDER BY media_id""".stripMargin) { (s, d) =>
      Multimodal.resizeStub(
          Multimodal.mediaFromDocuments(Tables.documents(s, d)), stride = 4)
        .orderBy("media_id")
    },

    // overlapping audio analysis windows (256-byte window, 128-byte
    // hop): each window's fingerprint hashes the REAL content slice —
    // Spark slices the binary by bytes, the oracle slices the text by
    // characters, identical on the ASCII corpus.
    "m04_audio_windows" -> Q(
      mediaCte +
        """SELECT media_id, n_win, win_idx,
          |       win_idx * 128 AS start_byte,
          |       md5(substring(content, win_idx * 128 + 1, 256)) AS win_fp
          |FROM (
          |  SELECT media_id, content,
          |         (octet_length(encode(content)) - 256) // 128 + 1 AS n_win
          |  FROM media
          |  WHERE kind = 'audio' AND octet_length(encode(content)) >= 256),
          |  LATERAL (SELECT unnest(range(0, n_win)) AS win_idx)
          |ORDER BY media_id, win_idx""".stripMargin) { (s, d) =>
      Multimodal.audioWindows(
          Multimodal.mediaFromDocuments(Tables.documents(s, d)),
          win = 256, hop = 128)
        .orderBy("media_id", "win_idx")
    },

    // multimodal near-dup: 64-bit aHash perceptual fingerprint (64
    // equal spans of the decoded byte stream, bit = span mean > global
    // mean, all-integer comparisons) fed through the SAME banded-LSH
    // machinery as text SimHash (Dedup.hashBandPairsManaged): 16-bit-band
    // blocking, occupancy-derived hot-bucket cap, Hamming <= 6. The
    // dedup family's member for image/audio/video columns — swap the
    // byte-stub decode for a real codec and the plan is unchanged.
    "m05_media_neardup" -> Q(
      mediaCte.trim + ",\n" + phashPairsCtes.trim + "\n" +
        """SELECT a, b, hamming
          |FROM pairs
          |ORDER BY a, b""".stripMargin) { (s, d) =>
      Multimodal.perceptualNearDupPairs(
          Multimodal.mediaFromDocuments(Tables.documents(s, d)),
          maxHamming = 6)
        .orderBy("a", "b")
    },

    // the APPLY step m05's pairs exist for — the media dedup keep,
    // completing the multimodal family's pairs -> clusters -> kept
    // corpus arc with the SAME machinery as the text side: min-label
    // connected components (graft.operators.ConnectedComponents, d07)
    // and the d13 keep rule (every unclustered object survives as
    // 'unique'; each perceptual cluster keeps exactly its canonical
    // member = the min-media_id cluster label). The oracle replays the
    // label propagation as a recursive CTE over the SAME pair CTEs m05
    // hash-verifies.
    "m06_media_keep" -> Q(
      mediaCte.trim.replaceFirst("WITH media", "WITH RECURSIVE media") +
        ",\n" + phashPairsCtes.trim + ",\n" +
        """und AS (SELECT a AS src, b AS dst FROM pairs
          |        UNION SELECT b, a FROM pairs),
          |cc AS (
          |  SELECT src AS node, src AS label FROM und
          |  UNION
          |  SELECT u.dst, cc.label FROM cc JOIN und u ON cc.node = u.src),
          |labels AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY 1)
          |SELECT m.media_id, m.kind,
          |       CASE WHEN l.node IS NULL THEN 'unique'
          |            ELSE 'canonical' END AS reason
          |FROM media m LEFT JOIN labels l ON m.media_id = l.node
          |WHERE l.node IS NULL OR m.media_id = l.cluster_id
          |ORDER BY media_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions._
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
      val pairs = Multimodal.perceptualNearDupPairs(media, maxHamming = 6)
      val labels = graft.operators.ConnectedComponents.run(pairs)
        .withColumnRenamed("node", "media_id")
      media.select("media_id", "kind")
        .join(labels, Seq("media_id"), "left")
        .filter(col("label").isNull || col("media_id") === col("label"))
        .select(col("media_id"), col("kind"),
          when(col("label").isNull, lit("unique"))
            .otherwise(lit("canonical")).as("reason"))
        .orderBy("media_id")
    },

    // media leakage-safe split — t26's contract on the perceptual
    // clusters: every member of a near-dup media cluster shares ONE
    // split key (the cluster label), so a resized/re-encoded copy can
    // never land in val while its original trains. Completes the media
    // family arc: pairs (m05) -> keep (m06) -> split (m07), all on the
    // text side's CC/splitAssign machinery.
    "m07_media_split" -> Q(
      mediaCte.trim.replaceFirst("WITH media", "WITH RECURSIVE media") +
        ",\n" + phashPairsCtes.trim + ",\n" +
        """und AS (SELECT a AS src, b AS dst FROM pairs
          |        UNION SELECT b, a FROM pairs),
          |cc AS (
          |  SELECT src AS node, src AS label FROM und
          |  UNION
          |  SELECT u.dst, cc.label FROM cc JOIN und u ON cc.node = u.src),
          |labels AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY 1)
          |SELECT m.media_id, m.kind,
          |       coalesce(l.cluster_id, m.media_id) AS split_key,
          |       CASE WHEN list_reduce(list_transform(
          |              string_split(md5(CAST(coalesce(l.cluster_id,
          |                                             m.media_id)
          |                                    AS VARCHAR)), ''),
          |              c -> CAST(ascii(c) AS BIGINT)),
          |              (acc, x) -> (acc * 31 + x) % 1000000007) % 100 < 80
          |            THEN 'train' ELSE 'val' END AS split
          |FROM media m LEFT JOIN labels l ON m.media_id = l.node
          |ORDER BY media_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions._
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
      val pairs = Multimodal.perceptualNearDupPairs(media, maxHamming = 6)
      val labels = graft.operators.ConnectedComponents.run(pairs)
        .withColumnRenamed("node", "media_id")
      media.select("media_id", "kind")
        .join(labels, Seq("media_id"), "left")
        .withColumn("split_key", coalesce(col("label"), col("media_id")))
        .select(col("media_id"), col("kind"), col("split_key"),
          graft.text.TextFns.splitAssign(col("split_key")).as("split"))
        .orderBy("media_id")
    }
  )
}
