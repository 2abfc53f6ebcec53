package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import graft.sources.Topic
import graft.text.Dedup

/** Ingest-time near-dup dedup: documents arrive on a topic in
  * micro-batches; each batch is MinHash-LSH-deduped against the
  * signature index accumulated from all previous batches
  * ([[Dedup.incrementalLshPairs]] — index side contributes only stored
  * signatures, delta buckets broadcast, no index–index pairs), then the
  * batch's own signatures append to the index.
  *
  * The invariant that makes this the 100 TB front-door shape: each
  * near-dup pair is discovered EXACTLY ONCE — when its later member
  * arrives, or within-batch when both arrive together — so the union
  * of per-batch pair outputs equals the full-corpus batch run
  * ([[Dedup.minhashLshPairs]]) no matter how the stream is sliced into
  * micro-batches. IngestDedupSpec asserts that equality across
  * batchings; the st11 oracle pins it against DuckDB. The equality is
  * exact while every LSH band bucket stays under `maxBucketSize`; once
  * a bucket crosses the cap mid-stream, pairs it emitted while still
  * under the cap persist, so the streamed union is a superset of the
  * capped batch run on that bucket (see
  * [[Dedup.incrementalLshPairs]]'s cap-semantics note — occupancy is
  * counted over index + delta together, so the cap engages at
  * accumulated corpus size, same as the batch pipeline).
  *
  * Replay safety: each micro-batch writes its pairs and its signature
  * rows to `batch=<id>`-keyed subdirectories in OVERWRITE mode, so a
  * crash/retry between the two writes — or a whole-batch re-run after
  * checkpoint recovery — rewrites the same content instead of
  * appending duplicates; the index read for batch b takes only
  * `batch < b`, which also excludes a crashed attempt's own partial
  * output.
  *
  * At cluster scale the topic is Kafka and the index is the stored
  * signature table (S1/K4); per-batch cost is O(index + delta) with
  * the delta side broadcast — ingest never re-scans corpus text.
  */
object IngestDedup {

  private val sigSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("sig", ArrayType(StringType))))

  /** Publish `docs` as a topic under `root`, stream it back in bounded
    * micro-batches, and return the accumulated (a, b, est_jaccard)
    * near-dup pairs. `nFiles` × `maxFilesPerTrigger` control the
    * slicing; the result must not depend on either. */
  def run(spark: SparkSession, docs: DataFrame, root: String,
      nFiles: Int = 4, maxFilesPerTrigger: Int = 1, k: Int = 12,
      bands: Int = 4, minEst: Double = 0.5): DataFrame = {
    Topic.publishDocuments(docs, s"$root/topic", nFiles = nFiles)
    StreamOps.runBounded(Topic.decodeDocuments(
      Topic.readStream(spark, s"$root/topic", maxFilesPerTrigger)),
      s"$root/ckpt")(processBatch(_, _, root, k, bands, minEst))
    spark.read.parquet(s"$root/pairs").select("a", "b", "est_jaccard")
  }

  /** One micro-batch's dedup work, IDEMPOTENT in `batchId`: dedup the
    * batch against the signatures of strictly-earlier batches, then
    * write this batch's pairs and signatures to `batch=<id>` subdirs in
    * overwrite mode. Re-executing the same (batch, batchId) — a crashed
    * attempt retried, or checkpoint recovery re-running the last batch
    * — rewrites identical content instead of appending duplicates. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      k: Int = 12, bands: Int = 4, minEst: Double = 0.5): Unit = {
    val sp = batch.sparkSession
    // previous batches' committed signatures only: batch < current id,
    // which also excludes a crashed attempt's own partial index write
    val index = Store.committedBefore(sp, root, "index", batchId)
      .map(_.select("id", "sig"))
      .getOrElse(sp.createDataFrame(new java.util.ArrayList[Row](), sigSchema))
    // signatures are computed ONCE per batch: written to the index
    // first, then the stored rows feed candidate generation — the
    // raw-docs form would re-shingle and re-aggregate the same text a
    // second time. A crash between the index write and the pairs write
    // retries into identical overwrites (the index frame above already
    // excludes this batch), so idempotency is unchanged.
    Dedup.minhashSignatures(batch, "doc_id", "text", k, 3)
      .write.mode("overwrite").parquet(s"$root/index/batch=$batchId")
    val deltaSigs = sp.read.parquet(s"$root/index/batch=$batchId")
      .select("id", "sig")
    // managed variant: one call per micro-batch would otherwise
    // accumulate three persisted frames per batch until LRU eviction
    val (pairs, release) = Dedup.incrementalLshPairsFromSigsManaged(
      index, deltaSigs, k = k, bands = bands, minEst = minEst)
    try pairs.write.mode("overwrite").parquet(s"$root/pairs/batch=$batchId")
    finally release()
  }
}
