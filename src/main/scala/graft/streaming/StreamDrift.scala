package graft.streaming


import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Topic
import graft.text.{QualityClassifier, TextFns}

/** Streaming distribution-drift monitor for an ingest pipeline (st17,
  * st18) — the production guard that catches a source going bad
  * (scraper drift, encoding breakage, a provider swap) BEFORE its
  * documents pollute the curated corpus: per micro-batch, the arriving
  * batch's histogram over a pluggable BUCKET AXIS is compared against
  * the ACCUMULATED histogram of everything that arrived before it.
  * Two registered axes: [[scoreBucket]] (st17 — the t33 histogram of
  * t31 trained-classifier scores, 0.02-wide) catches quality-score
  * breakage; [[tokenLogBucket]] (st18 — floor(log2(token count)), ~12
  * buckets) catches LENGTH drift, the axis that shifts FIRST when a
  * scraper starts truncating documents, before any score moves.
  *
  * Drift is an exact integer L1 distance between the two score
  * distributions, cross-multiplied so no division ever enters the
  * state or the metric numerator:
  *
  *   drift_num(batch) = Σ_buckets |cnt_b · N_prev − prev_cnt_b · N_batch|
  *
  * over the t33 histogram buckets (`floor(score·50)`, 0.02-wide, of
  * the t31 trained-classifier score — bit-identical cross-engine).
  * The presented ratio `drift_num / (N_batch · N_prev)` is one exact
  * IEEE division, so any engine replays the report bit-for-bit; a
  * first batch has no prior and reports 0.
  *
  * Per-batch state is ONE compact `hist/batch=<id>` store (bucket,
  * cnt — at most 51 rows per batch at any corpus size), written
  * overwrite-idempotent; the report derives everything else from the
  * accumulated store (the st16 publish pattern). Scale shape: the
  * per-batch work is the t31 scoring scan plus a ≤51-cell partial
  * agg; the report joins frames of |batches| × |buckets| rows —
  * broadcast-sized forever.
  */
object StreamDrift {

  /** Sentinel histogram cell for rows whose bucket expression is NULL
    * (a NULL-text document): without it, the NULL cell would count
    * toward a batch's n_docs yet never match in the null-unsafe
    * report joins — so a batch whose NULL-payload share spikes (a
    * scraper emitting empty documents) could never register drift.
    * Both oracles coalesce to the same value; changing either side
    * alone goes hash-red. */
  val NullBucket = -999L

  /** st17's axis: the t33 calibration histogram bucket of the t31
    * trained-classifier score — bit-identical cross-engine. */
  def scoreBucket: Column =
    floor(QualityClassifier.score(col("text")) * 50).cast("long")

  /** st18's axis: floor(log2(whitespace token count)), computed as
    * `length(bin(n)) - 1` — INTEGER bit-length arithmetic, never an
    * IEEE log2 whose floor could straddle an engine's rounding at
    * exact powers of two. ~12 buckets at any corpus size; NULL text
    * propagates to a NULL bucket (its own histogram cell, same as
    * st17's NULL score). */
  def tokenLogBucket: Column =
    (length(bin(TextFns.tokenCount(col("text")))) - 1).cast("long")

  /** st19's axis: the t03 keyword-profile LANGUAGE/DOMAIN id as a
    * small integer bucket — the index of the argmax marker-vocabulary
    * profile (ties to the earlier profile, t03's rule). A scraper
    * swapping providers shifts the language mix BEFORE any score or
    * length moves, so this is the axis that completes the drift triple
    * (score st17 / length st18 / language st19). NULL text → NULL
    * bucket (the sentinel path — [[TextFns.profileId]] alone would
    * coerce a NULL text to the head profile, hiding an empty-payload
    * spike in the dominant language's cell). Profiles ride in as a
    * parameter so the streaming layer stays independent of the query
    * registry. */
  def profileBucket(profiles: Seq[(String, Seq[String])]): Column = {
    val name = TextFns.profileId(col("text"), profiles)
    val idx = profiles.zipWithIndex
      .foldLeft(lit(null).cast("long")) { case (acc, ((p, _), i)) =>
        when(name === p, lit(i.toLong)).otherwise(acc)
      }
    when(col("text").isNotNull, idx)
  }

  /** Publish `docs` as `nSlices` arrival waves (slice k = doc_id mod
    * nSlices = k), one file each, ordered via
    * [[Topic.publishOrderedSlices]] — the membership rule an oracle
    * can replay exactly. */
  def publishSliced(docs: DataFrame, topicDir: String,
      nSlices: Int): Unit =
    Topic.publishSlicedBy(docs, "doc_id", topicDir, nSlices) {
      (slice, append) => Topic.publish(slice, topicDir,
        tsMicros = col("doc_id"), keyCol = Some("doc_id"), nFiles = 1,
        append = append)
    }

  /** The per-batch histogram store `hist/` and its running checkpoint
    * `cumhist/` (bucket-wise SUM — associative, so `cumhist/b` is the
    * histogram of every batch ≤ b). */
  private[streaming] val histStore = FoldedStore("hist", "cumhist",
    Seq("bucket", "cnt"),
    _.groupBy("bucket").agg(sum("cnt").cast("long").as("cnt")))

  /** One micro-batch's work: the batch's bucket histogram, written
    * idempotently to its own subdirectory. With `cumulative = true`
    * it is then folded into the running checkpoint `cumhist/batch=b`
    * ([[FoldedStore]]). The checkpoint is what keeps
    * [[DriftGate.decisionFor]]'s prev side at O(cells) per batch
    * FOREVER: without it, every arrival re-collected the whole hist
    * store (O(batches × cells) per batch, quadratic over the stream's
    * lifetime at the metadata level). The fold costs one extra tiny
    * read + commit per batch, so it is OPT-IN: only the DECISION
    * consumers (refit/quarantine/promote) pay it — the pure monitors
    * (st17/st18/st19) never call decisionFor and skip it. A missing
    * predecessor on a PRE-UPGRADE root (hist/ batches written before
    * the checkpoint existed, with the threshold marker intact — a
    * markerless hist-bearing root never reaches decisionFor:
    * enforceThresholdLineage refuses it first) self-heals from the
    * stored per-batch hists. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      bucket: Column = scoreBucket, cumulative: Boolean = false): Unit = {
    // respread (guide §2.5): the bucket axis is per-word hash-fold
    // work (t31 scoring / token counts) and a 1-file micro-batch
    // arrives as one partition — the scan-side of the histogram agg
    // would run on one task
    histStore.writePartial(graft.functions.Spread.across(batch)
      .select(coalesce(bucket, lit(NullBucket)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt")), root, batchId)
    if (cumulative) histStore.fold(batch.sparkSession, root, batchId)
  }

  /** The drift report from the accumulated histogram store: one row
    * per batch with exact integer counts and the one-division ratio. */
  def report(spark: SparkSession, root: String): DataFrame =
    reportFromHist(spark.read.parquet(s"$root/hist")
      .select(col("batch").cast("long").as("batch"),
        col("bucket"), col("cnt")))

  /** Publish, stream, report — the registered st17/st18 entry
    * (`bucket` selects the monitored axis). */
  def run(spark: SparkSession, docs: DataFrame, root: String,
      nSlices: Int = 4, bucket: Column = scoreBucket): DataFrame = {
    runSliced(spark, docs, root, nSlices)(processBatch(_, _, root, bucket))
    report(spark, root)
  }

  /** The sliced-documents entry every drift-family actor shares:
    * [[StreamOps.runSliced]] over `docs` published as `nSlices` ordered
    * arrival waves ([[publishSliced]]). */
  def runSliced(spark: SparkSession, docs: DataFrame, root: String,
      nSlices: Int)(perBatch: (DataFrame, Long) => Unit): Unit =
    StreamOps.runSliced(spark, root, publishSliced(docs, _, nSlices),
      Topic.decodeDocuments)(perBatch)

  /** The same report computed in one batch pass (batch = doc_id mod
    * nSlices) — the spec's invariance reference. */
  def batchReference(docs: DataFrame, nSlices: Int = 4,
      bucket: Column = scoreBucket): DataFrame = {
    val d = docs.select(
      pmod(col("doc_id"), lit(nSlices.toLong)).as("batch"),
      coalesce(bucket, lit(NullBucket)).as("bucket"))
    val hist = d.groupBy("batch", "bucket").agg(count(lit(1)).as("cnt"))
    reportFromHist(hist)
  }

  /** Shared derivation for [[report]]'s spec reference. */
  private def reportFromHist(hist: DataFrame): DataFrame = {
    val bn = hist.groupBy("batch").agg(sum("cnt").cast("long").as("n"))
    val pn = bn.as("b").join(bn.as("p"),
        col("p.batch") < col("b.batch"), "left")
      .groupBy(col("b.batch").as("batch"))
      .agg(coalesce(sum(col("p.n")), lit(0L)).cast("long").as("prev_n"))
    val ph = bn.select(col("batch").as("cb")).join(hist,
        col("batch") < col("cb"))
      .groupBy(col("cb").as("batch"), col("bucket"))
      .agg(sum("cnt").cast("long").as("pcnt"))
    val keys = hist.select("batch", "bucket")
      .union(ph.select("batch", "bucket")).distinct()
    val j = keys
      .join(hist.withColumnRenamed("cnt", "ccnt"),
        Seq("batch", "bucket"), "left")
      .join(ph, Seq("batch", "bucket"), "left")
      .na.fill(0L, Seq("ccnt", "pcnt"))
      .join(broadcast(bn), "batch").join(broadcast(pn), "batch")
    val dr = j.groupBy("batch")
      .agg(sum(abs(col("ccnt") * col("prev_n") - col("pcnt") * col("n")))
        .cast("long").as("drift_num"))
    bn.join(pn, "batch").join(dr, "batch")
      .select(col("batch"), col("n").as("n_docs"),
        col("prev_n").as("prev_docs"), col("drift_num"),
        when(col("prev_n") > 0,
          round(col("drift_num").cast("double") /
            (col("n").cast("double") * col("prev_n").cast("double")), 6))
          .otherwise(lit(0.0)).as("drift"))
      .orderBy("batch")
  }
}
