package graft

import graft.sources.Tables
import graft.streaming.IngestDedup
import graft.text.Dedup

/** The ingest-dedup invariant: the union of per-micro-batch incremental
  * LSH pairs equals the full-corpus batch run, no matter how the stream
  * is sliced. This is what makes ingest-time dedup trustworthy at
  * 100 TB — re-batching (repartitioned topics, backfills, replays)
  * cannot change the dedup decision set.
  */
class IngestDedupSpec extends SparkSpec {

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, java.math.BigDecimal)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      new java.math.BigDecimal(r.get(2).toString))).toSet

  test("streamed ingest dedup equals the batch run under two different batchings") {
    val docs = Tables.documents(spark, SfDir)
    val batch = pairsOf(Dedup.minhashLshPairs(docs, k = 12, bands = 4, minEst = 0.5)
      .select("a", "b", "est_jaccard"))
    batch should not be empty // the corpus must actually contain near-dups

    val fine = pairsOf(IngestDedup
      .run(spark, docs, tmp("ingest-fine"),
        nFiles = 4, maxFilesPerTrigger = 1)
      .select("a", "b", "est_jaccard"))
    val coarse = pairsOf(IngestDedup
      .run(spark, docs, tmp("ingest-coarse"),
        nFiles = 6, maxFilesPerTrigger = 3)
      .select("a", "b", "est_jaccard"))

    fine shouldBe batch
    coarse shouldBe batch
  }

  test("incremental corpus build publishes the batch manifest under any slicing") {
    // the st16 contract: gate / pair-discovery / token counts /
    // decontam deltas all accumulate order-free, so the published
    // shard manifest equals the one-shot batch topology no matter how
    // the stream is sliced — including slices that split near-dup
    // clusters AND eval-vs-train arrivals across batch boundaries
    import graft.streaming.StreamingCorpusBuild
    val docs = Tables.documents(spark, SfDir)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    val batch = rows(StreamingCorpusBuild.batchReference(docs))
    batch should not be empty
    val fine = rows(StreamingCorpusBuild.run(spark, docs,
      tmp("corpus-fine"), nFiles = 4, maxFilesPerTrigger = 1))
    val coarse = rows(StreamingCorpusBuild.run(spark, docs,
      tmp("corpus-coarse"), nFiles = 6, maxFilesPerTrigger = 3))
    fine shouldBe batch
    coarse shouldBe batch
  }

  test("each pair is emitted exactly once across micro-batches") {
    val docs = Tables.documents(spark, SfDir)
    val out = IngestDedup.run(spark, docs, tmp("ingest-once"),
      nFiles = 4, maxFilesPerTrigger = 1)
    out.count() shouldBe out.select("a", "b").distinct().count()
  }

  test("a replayed micro-batch rewrites instead of duplicating (crash-retry)") {
    import org.apache.spark.sql.functions.col
    val root = tmp("ingest-replay")
    val docs = Tables.documents(spark, SfDir)
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    IngestDedup.processBatch(b0, 0, root)
    IngestDedup.processBatch(b1, 1, root)
    def result() = spark.read.parquet(s"$root/pairs")
      .select("a", "b", "est_jaccard")
    val once = pairsOf(result())
    val rowsOnce = result().count()
    // checkpoint recovery re-runs the last batch after its writes landed
    IngestDedup.processBatch(b1, 1, root)
    pairsOf(result()) shouldBe once
    result().count() shouldBe rowsOnce // same multiset, not just same set
    // and the replayed run still equals the full-corpus batch run
    once shouldBe pairsOf(
      Dedup.minhashLshPairs(docs, k = 12, bands = 4, minEst = 0.5)
        .select("a", "b", "est_jaccard"))
  }
}
