package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The drift gate every decision actor (st20, st21, st23, st24, st25)
  * opens its micro-batch with: the firing rule and the state that makes
  * it replay-idempotent.
  *
  * Batch b FIRES when its histogram over [[axis]] drifts from the
  * accumulated histogram of every strictly-earlier batch by more than
  * the threshold: `drift_num · 10^6 > thresholdPpm · n_b · prev_n_b`
  * ([[fires]]) — the exact integer cross-multiplied form of "drift
  * ratio > threshold", in BigInt so petabyte-scale counts cannot
  * overflow.
  *
  * State under the actor's root (through [[Store]]):
  *  - `threshold.ppm`: the threshold the root was started with
  *    ([[enforceThresholdLineage]]);
  *  - `hist/` + `cumhist/`: the per-batch histograms and their running
  *    checkpoint ([[StreamDrift.histStore]]);
  *  - `dec/batch-<id>`: batch id's decision, `1` (fired) or `0`. Each
  *    batch derives ONLY its own ([[decisionFor]]: two bounded collects
  *    of ≤ ~51 cells) and publishes it; later batches and composed
  *    actors READ it ([[ownDecision]]). A decision is a pure function of
  *    strictly-earlier state, so a replay derives the same byte and
  *    per-batch cost stays flat on the stream-lifetime axis.
  */
object DriftGate {

  /** Pinned firing threshold, ppm of the drift ratio
    * drift_num / (n · prev_n). 0.15 sits between routine
    * slice-to-slice variation and a genuine length-mix break on the
    * st18 axis. */
  val ThresholdPpm = 150000L

  /** The monitored axis: st18's token-length log-buckets — the axis
    * that shifts FIRST when a scraper starts truncating documents,
    * before any quality score moves (so the refit triggers early). */
  def axis: Column = StreamDrift.tokenLogBucket

  /** The firing rule: drift_num · 10^6 > ppm · n · prev_n. */
  def fires(driftNum: BigInt, n: BigInt, prevN: BigInt, ppm: Long): Boolean =
    driftNum * 1000000 > BigInt(ppm) * n * prevN

  /** The fired-batch set of `docs` under the doc_id-mod-nSlices slicing,
    * without the stream — the batch references' decisions and the
    * [[graft.FiringPatternCanarySpec]] derivation (one bounded collect:
    * one row per batch). */
  def firedBatches(docs: DataFrame, nSlices: Int = 4,
      thresholdPpm: Long = ThresholdPpm): Set[Long] =
    StreamDrift.batchReference(docs, nSlices, axis)
      .collect() // bounded: one row per batch
      .filter(r => fires(r.getLong(3), r.getLong(1), r.getLong(2),
        thresholdPpm))
      .map(_.getLong(0)).toSet

  /** Threshold LINEAGE guard: decisions — and therefore st20's version
    * numbering and st21's routes — are a function of `thresholdPpm`, so
    * a stream RESTARTED against the same root with a different
    * threshold would silently interleave two regimes' histories into
    * one MERGE-keyed weights table / routed store. The first batch pins
    * the threshold in a root-level marker; every later batch (including
    * replays and restarts) must match or fail loudly. */
  private[streaming] def enforceThresholdLineage(spark: SparkSession,
      root: String, ppm: Long): Unit = {
    val fs = Store.hfs(spark, root)
    val p = new Path(root, "threshold.ppm")
    Store.readTrail(fs, p).map(_.trim.toLong) match {
      case Some(prev) =>
        require(prev == ppm,
          s"DriftGate: root $root was built with thresholdPpm=$prev — " +
            s"refusing to continue with $ppm; decisions/version numbering " +
            "would interleave two regimes. Start a fresh root.")
      case None =>
        // write the marker only alongside a FRESH history: a markerless
        // root that already carries hist/ batches predates the lineage
        // guard (or lost its marker), and blessing it with whatever
        // threshold the restarting stream happens to pass is exactly
        // the interleaving the marker exists to prevent
        require(!fs.exists(new Path(root, "hist")),
          s"DriftGate: root $root already has hist/ batches but no " +
            "threshold.ppm marker — cannot verify its decision lineage " +
            s"against thresholdPpm=$ppm. Start a fresh root (or restore " +
            "the original marker).")
        Store.publishTrail(fs, p, ppm.toString)
    }
  }

  /** ONLY batch `batchId`'s firing decision: its own histogram against
    * the PREDECESSOR CHECKPOINT `cumhist/batch=b-1` (the bucket-wise
    * sum of every strictly-earlier batch — [[StreamDrift.processBatch]]
    * maintains it, so later batches' cells present during a replay
    * never enter the prev side and a late replay recomputes the
    * identical decision). Two bounded collects of ≤ ~51 cells each —
    * O(cells) per batch FOREVER, independent of batches seen. A root
    * without checkpoints (pre-upgrade) self-heals by summing the stored
    * per-batch hists < b once ([[FoldedStore.before]]). An empty batch
    * (no histogram rows) is clean: drift_num = 0. */
  def decisionFor(spark: SparkSession, root: String, batchId: Long,
      thresholdPpm: Long = ThresholdPpm): Boolean = {
    def cellsOf(cells: DataFrame): Map[Long, Long] =
      cells.select(col("bucket"), col("cnt").cast("long").as("cnt"))
        .collect() // bounded: <= ~51 histogram cells
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupMapReduce(_._1)(_._2)(_ + _)
    val cur = cellsOf(spark.read.parquet(s"$root/hist/batch=$batchId"))
    val prev =
      if (batchId == 0L) Map.empty[Long, Long]
      else cellsOf(StreamDrift.histStore.before(spark, root, batchId))
    val n = BigInt(cur.values.sum)
    val prevN = BigInt(prev.values.sum)
    val driftNum = (cur.keySet ++ prev.keySet).toSeq.map { k =>
      (BigInt(cur.getOrElse(k, 0L)) * prevN -
        BigInt(prev.getOrElse(k, 0L)) * n).abs
    }.sum
    fires(driftNum, n, prevN, thresholdPpm)
  }

  /** THIS batch's decision, read through the `dec/` trail: the stored
    * byte when present (a composed actor — st24 — runs several planes
    * per batch and only the first derives), derived via [[decisionFor]]
    * and published otherwise. A missing or unreadable entry heals by
    * re-derivation. */
  private[streaming] def ownDecision(spark: SparkSession, root: String,
      batchId: Long, thresholdPpm: Long): Boolean = {
    val fs = Store.hfs(spark, root)
    val p = new Path(s"$root/dec/batch-$batchId")
    Store.readTrail(fs, p).map(_.trim)
      .collect { case "1" => true; case "0" => false }
      .getOrElse {
        val d = decisionFor(spark, root, batchId, thresholdPpm)
        Store.publishTrail(fs, p, if (d) "1" else "0")
        d
      }
  }

  /** `docs/batch=` directories ≤ `batchId` with NO committed `hist/`
    * twin — TORN batches: reachable only by an out-of-contract direct
    * processBatch caller that crashed between the docs and hist
    * commits and never replayed the batch (the streaming contract
    * replays a torn batch before any later one runs). The clean-pool
    * complement (`NOT isin(fired)`) would otherwise let such a
    * directory's documents silently join a training pool with no
    * decision ever recorded for them. Two bounded FS listings; torn
    * is EMPTY in contract, so excluding it leaves the in-contract
    * plan literally unchanged. */
  private[graft] def tornBatches(spark: SparkSession, root: String,
      batchId: Long): Seq[Long] = {
    val fs = Store.hfs(spark, root)
    tornBatches(fs, root, batchId, Store.batchIdsUnder(fs, root, "hist", batchId))
  }

  /** [[tornBatches]] against `hist`, the caller's `hist/` listing. */
  private def tornBatches(fs: FileSystem, root: String, batchId: Long,
      hist: Seq[Long]): Seq[Long] =
    (Store.batchIdsUnder(fs, root, "docs", batchId).toSet -- hist).toSeq.sorted

  /** The CLEAN POOL of a bootstrap/firing batch b: the fired batches
    * ≤ b (ascending) and the stored docs of every batch ≤ b that
    * neither fired nor is torn (a firing b itself is suspect and
    * excluded; batch 0 has no prior so it never fires). Expressed as
    * the COMPLEMENT — NOT isin(fired ++ torn) — so the plan carries
    * O(firings + torn) literals, not O(batches). Reads the full
    * decision map, so only bootstrap/firing batches call it — a
    * non-firing arrival must never pay the O(batches-seen) dec/
    * listing+reads. */
  private[streaming] def cleanPool(spark: SparkSession, root: String,
      batchId: Long, thresholdPpm: Long): (Seq[Long], DataFrame) = {
    // every histogram batch ≤ b through the dec/ read-through: the hist
    // store's directories cover non-contiguous ids, and a replay with
    // later batches present stops at b; the same listing finds the
    // torn batches
    val fs = Store.hfs(spark, root)
    val hist = Store.batchIdsUnder(fs, root, "hist", batchId)
    val fired = hist.filter(ownDecision(spark, root, _, thresholdPpm))
    val excluded = (fired ++ tornBatches(fs, root, batchId, hist)).distinct.sorted
    val docs = spark.read.parquet(s"$root/docs")
      .filter(col("batch").cast("long") <= batchId &&
        (if (excluded.isEmpty) lit(true)
         else !col("batch").cast("long").isin(excluded: _*)))
    (fired, docs)
  }

  /** The store/decide step every decision actor opens its micro-batch
    * with: threshold lineage check, the batch persisted for its scope
    * (its consumers — docs store, histogram scoring, the act — would
    * otherwise decode the topic file once per action, guide §1.2),
    * the `docs/batch=<id>` store when `keepDocs`, the histogram +
    * cumhist checkpoint, and ONLY this batch's decision
    * ([[ownDecision]]); then `act(persistedBatch, fired)`. Run once
    * per micro-batch by a composed actor (st24/st25), so hist/ and
    * cumhist/ commit once per batch, not once per plane action. */
  private[streaming] def withDecision(batch: DataFrame, batchId: Long,
      root: String, thresholdPpm: Long, keepDocs: Boolean)(
      act: (DataFrame, Boolean) => Unit): Unit = {
    val spark = batch.sparkSession
    enforceThresholdLineage(spark, root, thresholdPpm)
    val b = batch.persist()
    try {
      if (keepDocs)
        b.select(col("doc_id"), col("text"), col("lang"))
          .write.mode("overwrite").parquet(s"$root/docs/batch=$batchId")
      StreamDrift.processBatch(b, batchId, root, axis, cumulative = true)
      act(b, ownDecision(spark, root, batchId, thresholdPpm))
    } finally b.unpersist()
  }
}
