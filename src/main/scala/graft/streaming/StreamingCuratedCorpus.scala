package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** QUARANTINE-PROTECTED corpus build (st25) — the curation arc's last
  * unforced join, composed at the st24 seam: through round 16 the
  * drift gate routed a firing batch's documents into
  * `routed/route=quarantine/` (st21) while the incremental corpus
  * build (st16) ingested every arrival regardless — the data-plane
  * gate protected a store no corpus consumer read, which is exactly
  * the "suspect data visible to downstream consumers" failure st21's
  * own contract exists to prevent. Here both actors share ONE
  * store-root and one decision: a firing batch's documents are routed
  * to quarantine AND contribute NOTHING to the corpus-build state —
  * no signatures, no shingles, no decontam deltas, no token counts —
  * so the published shard manifest is derived exclusively from
  * clean-batch arrivals.
  *
  * Per micro-batch (the [[StreamLineage]] single-commit discipline —
  * the shared store/decide step runs ONCE):
  *  1. threshold lineage check, histogram + cumhist checkpoint, own
  *     firing decision ([[DriftGate.withDecision]] — stored
  *     append-only in dec/, read not re-derived by any later actor);
  *  2. route the batch ([[StreamQuarantine.routeBatch]]) — every
  *     arrival lands under `routed/route=<corpus|quarantine>`, so the
  *     quarantine audit trail is complete even though quarantined
  *     batches never reach the build;
  *  3. ONLY on a clean batch: the st16 per-batch arrival-time work
  *     ([[StreamingCorpusBuild.processBatch]] — signatures vs the
  *     accumulated index, shingle stores, decontam deltas). A fired
  *     batch is skipped ENTIRELY: its eval-side documents are suspect
  *     too (a poisoned "held-out" arrival would silently contaminate
  *     the decontamination reference), so neither side of the overlap
  *     accounting sees it.
  *
  * Replay idempotence is inherited from the parts: the decision is a
  * pure function of strictly-earlier state (a replay recomputes the
  * identical skip-or-build), and every build store write is a
  * batch-scoped overwrite. Publish ([[StreamingCorpusBuild.publish]])
  * cuts the release from the accumulated compact tables, which now
  * hold clean batches only — equal by construction to the one-shot
  * t28-style topology ([[StreamingCorpusBuild.batchReference]])
  * restricted to the non-fired batches of the same slicing
  * ([[batchReference]]; spec-pinned, oracle-pinned at sf0.01 where
  * the doc_id-mod-4 slicing fires exactly at batch 2 —
  * [[graft.FiringPatternCanarySpec]] canaries that testdata pin).
  *
  * Scale shape: the union of the parts' shapes — per batch one
  * ≤ ~12-cell histogram agg + one bounded decision collect + the
  * routed append (every batch), plus the st16 O(delta + delta×index)
  * build work on CLEAN batches only. A quarantined batch costs O(its
  * own rows) — the build never pays for data it must not serve, and
  * the firing path is CHEAPER than st16 alone, not dearer.
  */
object StreamingCuratedCorpus {

  /** One micro-batch: shared store/decide ONCE, route always, build
    * only when clean. Idempotent under whole-batch replay. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      thresholdPpm: Long = DriftGate.ThresholdPpm): Unit =
    DriftGate.withDecision(batch, batchId, root, thresholdPpm,
        keepDocs = false) { (b, fired) =>
      StreamQuarantine.routeBatch(b, batchId, root, fired)
      if (!fired)
        StreamingCorpusBuild.processBatch(
          b.select("doc_id", "text"), batchId, root)
    }

  /** Publish, stream, route-and-build per batch, cut the release —
    * the registered st25 entry: the shard manifest a training run
    * consumes, derived from clean-batch arrivals only. `shardSize`
    * None (the default) derives a scale-safe size from the clean train
    * count ([[StreamingCorpusBuild.publish]]); the oracled entry
    * passes Some(64), the testdata shape its DuckDB SQL pins. */
  def run(spark: SparkSession, docs: DataFrame, root: String,
      nSlices: Int = 4,
      thresholdPpm: Long = DriftGate.ThresholdPpm,
      shardSize: Option[Int] = None): DataFrame = {
    StreamDrift.runSliced(spark, docs, root, nSlices)(
      processBatch(_, _, root, thresholdPpm))
    // a corpus whose EVERY batch fired leaves no build state at all —
    // there is no clean release to cut, and a raw missing-path read
    // error would misreport that as an engine bug. Fail loudly with
    // the real story instead (pathological by construction: drift is
    // relative to accumulated prior, so batch 0 never fires and an
    // all-fired stream requires every later batch to break from it).
    require(Store.hfs(spark, root).exists(new Path(root, "meta")),
      s"StreamingCuratedCorpus: every batch of $root fired — no clean " +
        "arrival ever reached the build; there is no corpus to publish")
    StreamingCorpusBuild.publish(spark, root, shardSize)
  }

  /** The same manifest computed without the stream: the one-shot
    * st16 topology over the docs of NON-FIRED batches only — the
    * spec's invariance reference and the shape the sf0.01 oracle
    * hard-codes (batch 2 fired). */
  def batchReference(docs: DataFrame, nSlices: Int = 4,
      thresholdPpm: Long = DriftGate.ThresholdPpm,
      shardSize: Option[Int] = None): DataFrame = {
    val fired = DriftGate.firedBatches(docs, nSlices, thresholdPpm)
    val clean =
      if (fired.isEmpty) docs
      else docs.filter(!pmod(col("doc_id"), lit(nSlices.toLong))
        .isin(fired.toSeq: _*))
    StreamingCorpusBuild.batchReference(clean, shardSize)
  }
}
