package graft.streaming


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Drift → QUARANTINE routing (st21) — st20's DATA-plane twin: st20
  * acts on the MODEL (refit on the clean pool when a batch's drift
  * fires); this acts on the DATA — a firing batch's documents are
  * routed to a quarantine store at INGEST time instead of landing in
  * the curated corpus, the production rule that suspect data must
  * never be visible to downstream consumers, not even transiently
  * (filtering at read time would leave a window where a training job
  * launched mid-ingest picks the poisoned batch up).
  *
  * Per micro-batch:
  *  1. the [[DriftGate]] writes the batch's histogram (≤ ~12 cells)
  *     and decides THIS batch's firing against strictly-earlier
  *     batches only — later batches' histograms, present during a
  *     replay, never enter batch b's prev side;
  *  2. write the batch's documents to
  *     `routed/route=<corpus|quarantine>/batch=<id>` — the route is a
  *     deterministic function of the accumulated store, so a
  *     crash/replay recomputes the identical decision and overwrites
  *     the identical directory (a replay can never flip a route and
  *     leave the old directory stale — spec-pinned).
  *
  * The oracle replays the PINNED firing pattern (at sf0.01 the
  * doc_id-mod-4 slicing fires exactly at batch 2 — the same st18
  * ratios st20's oracle pins: 112000 / 176000 / 48000 ppm vs the
  * 150000 threshold); a divergent Spark-side decision routes a whole
  * batch differently and goes hash-red on every one of its rows.
  *
  * Scale shape: per batch one ≤ ~12-cell histogram agg, ONE bounded
  * own-decision collect (strictly-earlier histogram cells only — no
  * per-arrival re-derivation of every stored batch), and one
  * partitioned append of the batch itself — O(batch), never a re-scan
  * of the accumulated corpus. The routed store is partitioned by
  * (route, batch), so downstream consumers prune to `route=corpus`
  * at the parquet-scan level: the quarantine never costs them a read.
  */
object StreamQuarantine {

  /** One micro-batch: histogram → decision → routed write. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      thresholdPpm: Long = DriftGate.ThresholdPpm): Unit =
    // the gate's lineage rule matters here: a restart with a different
    // threshold would re-decide old batches differently and leave a
    // batch's docs present under BOTH route directories
    DriftGate.withDecision(batch, batchId, root, thresholdPpm,
        keepDocs = false) { (b, fired) =>
      routeBatch(b, batchId, root, fired)
    }

  /** The DATA-plane action alone, given an already-derived decision —
    * the piece a COMPOSING caller (st24's [[StreamLineage]]) invokes
    * after performing the shared store/decide step once, so the
    * composed actor family never writes hist/cumhist or derives the
    * decision twice per micro-batch. */
  private[streaming] def routeBatch(batch: DataFrame, batchId: Long,
      root: String, fired: Boolean): Unit = {
    val route = if (fired) "quarantine" else "corpus"
    batch.select(col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite")
      .parquet(s"$root/routed/route=$route/batch=$batchId")
  }

  /** The routed corpus view: every ingested document with the batch it
    * arrived in and the route its batch's drift decision assigned. */
  def routed(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/routed")
      .select(col("doc_id"), col("batch").cast("long").as("batch"),
        col("route").cast("string").as("route"))
      .orderBy("doc_id")

  /** Publish, stream, route-on-drift, return the routed table — the
    * registered st21 entry. */
  def run(spark: SparkSession, docs: DataFrame, root: String,
      nSlices: Int = 4,
      thresholdPpm: Long = DriftGate.ThresholdPpm): DataFrame = {
    StreamDrift.runSliced(spark, docs, root, nSlices)(
      processBatch(_, _, root, thresholdPpm))
    routed(spark, root)
  }

  /** The same routed table computed without the stream (batch = doc_id
    * mod nSlices, decisions folded in batch order) — the spec's
    * invariance reference. Only the ≤ nSlices-row decision table is
    * collected; the routing itself is a map-side CASE over the corpus
    * (the audited-bounded driver-action class). */
  def batchReference(docs: DataFrame, nSlices: Int = 4,
      thresholdPpm: Long = DriftGate.ThresholdPpm): DataFrame = {
    val route = DriftGate.firedBatches(docs, nSlices, thresholdPpm)
      .toSeq.sorted.foldLeft(lit("corpus")) { (acc, b) =>
        when(col("batch") === b, lit("quarantine")).otherwise(acc)
      }
    docs.select(col("doc_id"),
        pmod(col("doc_id"), lit(nSlices.toLong)).as("batch"))
      .withColumn("route", route)
      .orderBy("doc_id")
  }
}
