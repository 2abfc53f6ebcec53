package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Curation LINEAGE (st24) — the whole actor family composed against
  * ONE shared store-root, which is the point the individual operators
  * build toward: st21 routes the DATA, st20/st23 refit and GATE the
  * model, and because all three derive from the same stores (hist/
  * histogram cells, the append-only dec/ firing bytes, the threshold
  * lineage marker), running them together per micro-batch costs ONE
  * decision derivation, not three. The composition's output is the
  * record a production curation system keeps per document: which
  * batch it arrived in, which route its batch's drift decision
  * assigned (corpus vs quarantine), and which MODEL VERSION was
  * serving at its ingest — the provenance needed to answer "which
  * gate admitted this training document?" months later.
  *
  * Per micro-batch the SHARED store/decide step runs ONCE — lineage
  * marker check, docs store, histogram + cumhist checkpoint, own
  * firing decision — then the two plane actions consume the derived
  * decision directly: [[StreamQuarantine.routeBatch]] (the routed
  * write) and [[StreamPromote.gateBatch]] (champion/challenger
  * evaluation and promote-or-reject on firing batches). Composing at
  * this seam is what makes the composition CHEAPER than its parts run
  * back-to-back: hist/ and cumhist/ commit once per micro-batch, not
  * once per actor. Every step is a pure function of strictly-earlier
  * state plus the batch, so the composition inherits replay
  * idempotence from its parts — a replayed batch re-routes to the
  * identical directory and re-writes the identical candidate rows.
  *
  * SERVING version semantics: the docs of batch b were gated at
  * ingest by the latest version PUBLISHED STRICTLY BEFORE b — batch
  * 0's docs arrive before any model exists (serving_version 0, the
  * pre-bootstrap sentinel; its bootstrap candidate only serves from
  * batch 1 on), and a version published on firing batch b serves
  * from b+1, never retroactively.
  *
  * Scale shape: the union of the parts' shapes — the lineage frame
  * itself is the routed store joined to a ≤|batches|-entry
  * batch→serving map folded driver-side from the bounded candidate
  * store and applied as a literal CASE (zero extra shuffles beyond
  * the routed scan + presentation sort).
  */
object StreamLineage {

  /** One micro-batch: the shared store/decide step ONCE, then route
    * the data and gate the model off the same derived decision. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      thresholdPpm: Long = DriftGate.ThresholdPpm): Unit =
    DriftGate.withDecision(batch, batchId, root, thresholdPpm,
        keepDocs = true) { (b, fired) =>
      StreamQuarantine.routeBatch(b, batchId, root, fired)
      StreamPromote.gateBatch(b.sparkSession, batchId, root, thresholdPpm,
        fired)
    }

  /** The per-document lineage: (doc_id, batch, route,
    * serving_version) — serving_version 0 for batch 0 (no model
    * existed at its ingest). */
  def lineage(spark: SparkSession, root: String): DataFrame =
    // the serving map comes from the pub/ byte trail (one FS listing +
    // |candidates| tiny reads — never a parquet scan of the 64-rows-
    // per-candidate store), cand-fold self-heal for pre-pub roots
    lineageOf(StreamQuarantine.routed(spark, root),
      StreamPromote.publishedVersions(spark, root))

  /** `routed` with each batch's serving version: the version published
    * on the LATEST fired batch < b, folded into one literal CASE over
    * the bounded (fired batch, version) list. */
  private def lineageOf(routed: DataFrame,
      published: Seq[(Long, Long)]): DataFrame = {
    val serving = published.foldLeft(lit(0L)) {
      case (acc, (fired, version)) =>
        when(col("batch") > fired, lit(version)).otherwise(acc)
    }
    routed.select(col("doc_id"), col("batch"), col("route"),
        serving.as("serving_version"))
      .orderBy("doc_id")
  }

  /** Publish, stream, route + gate per batch, return the lineage —
    * the registered st24 entry. */
  def run(spark: SparkSession, docs: DataFrame, root: String,
      nSlices: Int = 4,
      thresholdPpm: Long = DriftGate.ThresholdPpm): DataFrame = {
    StreamDrift.runSliced(spark, docs, root, nSlices)(
      processBatch(_, _, root, thresholdPpm))
    lineage(spark, root)
  }

  /** The same lineage computed without the stream: the st21 route
    * reference joined with the st23 fold's published versions — the
    * spec's invariance reference. */
  def batchReference(docs: DataFrame, nSlices: Int = 4,
      thresholdPpm: Long = DriftGate.ThresholdPpm): DataFrame =
    lineageOf(StreamQuarantine.batchReference(docs, nSlices, thresholdPpm),
      StreamPromote.batchReference(docs, nSlices, thresholdPpm)
        .collect { case (fired, _, _, _, _, _, Some(v), "published") =>
          fired -> v
        }.distinct.sortBy(_._1))
}
