package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.KeyedUpsert
import graft.text.ClassifierTrain

/** Drift → REFIT composition (st20) — the monitoring family finally
  * ACTS: the st17/st18/st19 monitors detect a shifted ingest
  * distribution; this operator closes the loop every production gate
  * runs — when a batch's drift fires, refit the quality classifier on
  * the accumulated CLEAN batches and publish the weights as a new
  * MODEL VERSION through the KeyedUpsert MERGE sink.
  *
  * Per micro-batch:
  *  1. persist the batch's documents to `docs/batch=<id>` and its
  *     bucket histogram to the st17-pattern `hist/batch=<id>` store —
  *     both overwrite-idempotent;
  *  2. the [[DriftGate]] derives ONLY this batch's firing decision
  *     and publishes it to the append-only `dec/` trail; earlier
  *     batches' decisions are READ, never re-derived;
  *  3. batch 0 BOOTSTRAPS version 1 (a serving gate needs a model from
  *     the first batch); a FIRING batch b is SUSPECT — the refit
  *     trains on the clean batches BEFORE it ({c ≤ b : ¬fired(c)},
  *     which never includes b) with the t35 deterministic full-batch
  *     perceptron, and MERGEs the 64 weight rows keyed by
  *     (version, bucket), version = 1 + |fired batches ≤ b|.
  *
  * Every step is a deterministic function of the accumulated stores,
  * so CRASH/REPLAY of any batch recomputes the identical decisions
  * (the `c ≤ b` guard keeps a late replay blind to batches that
  * arrived after b), refits the identical pool, and re-MERGEs
  * identical rows — the weights table is replay-idempotent by
  * construction (spec-pinned). The oracle replays the pinned firing
  * pattern: the drift arithmetic is st18's hash-exact machinery, and
  * each version's weights are the t35 perceptron CTE chain over the
  * clean-set membership predicate (`doc_id % nSlices IN (...)`) — a
  * divergent firing decision on the Spark side would surface as a
  * missing/extra version or a wrong fired_batch, going hash-red.
  *
  * Scale shape: per batch, the gate's histogram agg and own-decision
  * collect (≤ ~51 cells each), and — only on
  * firing batches — k perceptron scans of the clean store (each the
  * t35 scan shape: map-side native scoring, ≤ Dim-cell partial agg,
  * ≤ Dim-row collect). The weights table is Dim rows per version,
  * forever broadcast-sized.
  */
object StreamRefit {

  /** One micro-batch's work — store, decide, maybe refit. Idempotent
    * under whole-batch replay (see class doc). An EMPTY micro-batch
    * writes a zero-row histogram and its drift limit is clean
    * (drift_num = 0) — it never fires. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      thresholdPpm: Long = DriftGate.ThresholdPpm): Unit =
    DriftGate.withDecision(batch, batchId, root, thresholdPpm,
        keepDocs = true) { (_, own) =>
      if (batchId == 0L || own) {
        val spark = batch.sparkSession
        import spark.implicits._
        val (fired, cleanDocs) =
          DriftGate.cleanPool(spark, root, batchId, thresholdPpm)
        val rows = fit(cleanDocs).zipWithIndex.map { case (wt, b) =>
          (1L + fired.length, batchId, b.toLong, wt)
        }.toDF("version", "fired_batch", "bucket", "weight")
        KeyedUpsert.upsert(spark, s"$root/weights", rows,
          keyCols = Seq("version", "bucket"), numBuckets = 8)
      }
    }

  /** The t35 perceptron fit of `docs`, labelled lang = 'en'. */
  private[streaming] def fit(docs: DataFrame): IndexedSeq[Long] = {
    val pool = ClassifierTrain.pool(docs, col("lang") === "en").persist()
    try ClassifierTrain.fitWeights(pool) finally pool.unpersist()
  }

  /** The published model history: every version's 64 weights plus the
    * batch whose arrival produced it (version 1 = the batch-0
    * bootstrap). */
  def weights(spark: SparkSession, root: String): DataFrame =
    KeyedUpsert.read(spark, s"$root/weights")
      .select(col("version"), col("fired_batch"), col("bucket"),
        col("weight"))
      .orderBy("version", "bucket")

  /** Publish, stream, refit-on-drift, return the versioned weights —
    * the registered st20 entry. */
  def run(spark: SparkSession, docs: DataFrame, root: String,
      nSlices: Int = 4,
      thresholdPpm: Long = DriftGate.ThresholdPpm): DataFrame = {
    StreamDrift.runSliced(spark, docs, root, nSlices)(
      processBatch(_, _, root, thresholdPpm))
    weights(spark, root)
  }

  /** The same versioned-weights table computed without the stream
    * (batch = doc_id mod nSlices, batches folded in order) — the
    * spec's invariance reference. */
  def batchReference(docs: DataFrame, nSlices: Int = 4,
      thresholdPpm: Long = DriftGate.ThresholdPpm)
      : Seq[(Long, Long, Long, Long)] = {
    val sliced = docs.select(
        pmod(col("doc_id"), lit(nSlices.toLong)).as("batch"),
        col("doc_id"), col("text"), col("lang"))
      .persist()
    try {
      val fired = DriftGate.firedBatches(docs, nSlices, thresholdPpm)
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      var version = 0L
      for (b <- 0L until nSlices.toLong) {
        if (b == 0L || fired(b)) {
          version += 1L
          val clean = (0L to b).filter(c => !fired(c))
          fit(sliced.filter(col("batch").isin(clean: _*)))
            .zipWithIndex.foreach { case (wt, bk) =>
              out += ((version, b, bk.toLong, wt))
            }
        }
      }
      out.result()
    } finally { sliced.unpersist(); () }
  }
}
