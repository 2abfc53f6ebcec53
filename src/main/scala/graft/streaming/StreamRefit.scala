package graft.streaming


import org.apache.hadoop.fs.{FileSystem, Path => HPath}

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
  *  2. compute ONLY this batch's firing decision from the accumulated
  *     histogram store (one bounded collect of ≤ batches × ~51 cells):
  *     batch b fires when
  *     `drift_num · 10^6 > thresholdPpm · n_b · prev_n_b` — the exact
  *     integer cross-multiplied form of "drift ratio > threshold",
  *     evaluated in BigInt so petabyte-scale counts cannot overflow —
  *     and store it in the append-only `dec/` store; earlier batches'
  *     decisions are READ, never re-derived (decisions depend only on
  *     strictly-earlier state, so stored bytes are replay-identical
  *     and per-batch cost stays flat on the stream-lifetime axis);
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
  * Scale shape: per batch, one histogram agg (≤ ~51 cells), ONE
  * bounded own-decision collect (earlier decisions read from the
  * append-only store — never re-derived per arrival), and — only on
  * firing batches — k perceptron scans of the clean store (each the
  * t35 scan shape: map-side native scoring, ≤ Dim-cell partial agg,
  * ≤ Dim-row collect). The weights table is Dim rows per version,
  * forever broadcast-sized.
  */
object StreamRefit {

  /** Pinned firing threshold, ppm of the drift ratio
    * drift_num / (n · prev_n). 0.15 sits between routine
    * slice-to-slice variation and a genuine length-mix break on the
    * st18 axis. */
  val ThresholdPpm = 150000L

  /** The monitored axis: st18's token-length log-buckets — the axis
    * that shifts FIRST when a scraper starts truncating documents,
    * before any quality score moves (so the refit triggers early). */
  def axis: org.apache.spark.sql.Column = StreamDrift.tokenLogBucket

  /** Threshold LINEAGE guard: decisions — and therefore st20's version
    * numbering and st21's routes — are a function of `thresholdPpm`, so
    * a stream RESTARTED against the same root with a different
    * threshold would silently interleave two regimes' histories into
    * one MERGE-keyed weights table / routed store. The first batch pins
    * the threshold in a root-level marker; every later batch (including
    * replays and restarts) must match or fail loudly. */
  private[streaming] def enforceThresholdLineage(spark: SparkSession,
      root: String, ppm: Long): Unit = {
    val fs = hfs(spark, root)
    val p = new HPath(root, "threshold.ppm")
    if (fs.exists(p)) {
      val prev = readSmall(fs, p).trim.toLong
      require(prev == ppm,
        s"StreamRefit: root $root was built with thresholdPpm=$prev — " +
          s"refusing to continue with $ppm; decisions/version numbering " +
          "would interleave two regimes. Start a fresh root.")
    } else {
      // write the marker only alongside a FRESH history: a markerless
      // root that already carries hist/ batches predates the lineage
      // guard (or lost its marker), and blessing it with whatever
      // threshold the restarting stream happens to pass is exactly the
      // interleaving the marker exists to prevent — fail loudly
      // instead of adopting the new threshold retroactively.
      require(!fs.exists(new HPath(root, "hist")),
        s"StreamRefit: root $root already has hist/ batches but no " +
          "threshold.ppm marker — cannot verify its decision lineage " +
          s"against thresholdPpm=$ppm. Start a fresh root (or restore " +
          "the original marker).")
      writeSmall(fs, p, ppm.toString)
    }
  }

  /** The byte stores go through the Hadoop FileSystem API (the
    * KeyedUpsert precedent), so a production root on HDFS/S3/ABFS
    * works the same as the local test roots. */
  private[graft] def hfs(spark: SparkSession, root: String): FileSystem =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def readSmall(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private[graft] def writeSmall(fs: FileSystem, p: HPath,
      body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Firing decisions for every batch in the accumulated histogram
    * store, in batch order: exact integer cross-multiplied threshold
    * test in BigInt (drift_num · 10^6 and threshold · n · prev_n both
    * exceed Long range at petabyte batch counts). Bounded driver
    * action: one row per batch.
    *
    * FULL derivation — joins frames of |batches|² shape inside
    * [[StreamDrift.report]], so it is an audit/report entry point, NOT
    * the per-batch path: [[processBatch]] computes only ITS batch's
    * decision ([[decisionFor]]) and reads earlier ones from the
    * append-only `dec/` store, keeping per-batch cost flat on the
    * stream-lifetime axis (a topic alive for millions of micro-batches
    * must not pay a growing re-derivation every arrival). */
  def decisions(spark: SparkSession, root: String,
      thresholdPpm: Long = ThresholdPpm): Seq[(Long, Boolean)] =
    StreamDrift.report(spark, root).collect().toSeq.map { r =>
      val (b, n, prevN, driftNum) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      b -> (BigInt(driftNum) * 1000000 >
        BigInt(thresholdPpm) * BigInt(n) * BigInt(prevN))
    }

  /** ONLY batch `batchId`'s firing decision: its own histogram against
    * the PREDECESSOR CHECKPOINT `cumhist/batch=b-1` (the bucket-wise
    * sum of every strictly-earlier batch — [[StreamDrift.processBatch]]
    * maintains it, so later batches' cells present during a replay
    * never enter the prev side and a late replay recomputes the
    * identical decision). Two bounded collects of ≤ ~51 cells each —
    * O(cells) per batch FOREVER, independent of batches seen; the
    * exact BigInt cross-multiplied test of [[decisions]]. A root
    * without checkpoints (pre-upgrade) self-heals by summing the
    * stored per-batch hists < b once ([[FoldedStore.before]]). An
    * empty batch (no histogram rows) is clean: drift_num = 0. */
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
    driftNum * 1000000 > BigInt(thresholdPpm) * n * prevN
  }

  /** Append-only decision store: `dec/batch-<id>` holds `1` (fired) or
    * `0` (clean). Each batch writes only ITS decision — a pure function
    * of strictly-earlier histogram state, so a whole-batch replay
    * overwrites the identical byte and later batches READ instead of
    * re-deriving (the fix for per-arrival re-derivation growing
    * linearly with batches seen, total quadratic over the stream's
    * lifetime). A missing file self-heals through [[decisionFor]]. */
  private[streaming] def writeDecision(spark: SparkSession, root: String,
      batchId: Long, fired: Boolean): Unit =
    writeSmall(hfs(spark, root), new HPath(s"$root/dec/batch-$batchId"),
      if (fired) "1" else "0")

  private[streaming] def readDecision(spark: SparkSession, root: String,
      batchId: Long): Option[Boolean] = {
    val fs = hfs(spark, root)
    val p = new HPath(s"$root/dec/batch-$batchId")
    if (!fs.exists(p)) None
    else Some(readSmall(fs, p).trim == "1")
  }

  /** THIS batch's decision, read-through: the stored byte when present
    * (a composed pipeline — st24 — runs several actors per batch and
    * only the first derives; a stored decision equals a recomputation
    * because it is a pure function of strictly-earlier state), derived
    * via [[decisionFor]] and stored otherwise. */
  private[streaming] def ownDecision(spark: SparkSession, root: String,
      batchId: Long, thresholdPpm: Long): Boolean =
    readDecision(spark, root, batchId).getOrElse {
      val d = decisionFor(spark, root, batchId, thresholdPpm)
      writeDecision(spark, root, batchId, d)
      d
    }

  /** Batch ids ≤ `upTo` under `root/dir` from `<prefix><id>` entry
    * names (`batch=` for the parquet stores, `batch-` for the dec/ and
    * pub/ byte trails), ascending — the ONE store-listing parser every
    * dec/hist/docs/cand/pub reader shares, so completeness checks that
    * compare two trails parse both identically. Digits-only guard: a
    * foreign entry (stray temp file, partial copy) is SKIPPED, not a
    * NumberFormatException — these listings also back the self-heal
    * paths for damaged roots, exactly where a foreign file is most
    * plausible. */
  private[graft] def batchIdsUnder(fs: FileSystem, root: String,
      dir: String, upTo: Long = Long.MaxValue,
      prefix: String = "batch="): Seq[Long] = {
    val p = new HPath(root, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) &&
          n.length > prefix.length &&
          n.drop(prefix.length).forall(_.isDigit) =>
        n.stripPrefix(prefix).toLong }
      .filter(_ <= upTo).sorted
  }

  /** Decisions for every histogram batch ≤ `batchId`, each through
    * [[ownDecision]] (stored byte, or derived and stored — self-heal).
    * The batch set comes from the hist store's directories, so
    * non-contiguous ids and replays with later batches present both
    * resolve correctly. */
  private[streaming] def decisionsUpTo(spark: SparkSession, root: String,
      batchId: Long, thresholdPpm: Long): Map[Long, Boolean] =
    batchIdsUnder(hfs(spark, root), root, "hist", batchId)
      .map(b => b -> ownDecision(spark, root, b, thresholdPpm)).toMap

  /** `docs/batch=` directories ≤ `batchId` with NO committed `hist/`
    * twin — TORN batches: reachable only by an out-of-contract direct
    * processBatch caller that crashed between the docs and hist
    * commits and never replayed the batch (the streaming contract
    * replays a torn batch before any later one runs). The clean-pool
    * complement (`NOT isin(fired)`) would otherwise let such a
    * directory's documents silently join a training pool with no
    * decision ever recorded for them. Two bounded FS listings; torn
    * is EMPTY in contract, so excluding it leaves the in-contract
    * plan literally unchanged (O(firings) literals, never
    * O(batches)). */
  private[graft] def tornBatches(spark: SparkSession, root: String,
      batchId: Long): Seq[Long] = {
    val fs = hfs(spark, root)
    (batchIdsUnder(fs, root, "docs", batchId).toSet --
      batchIdsUnder(fs, root, "hist", batchId)).toSeq.sorted
  }

  /** The CLEAN POOL of a bootstrap/firing batch b: the fired batches
    * ≤ b (ascending) and the stored docs of every batch ≤ b that
    * neither fired nor is torn (a firing b itself is suspect and
    * excluded; batch 0 has no prior so it never fires). Expressed as
    * the COMPLEMENT — NOT isin(fired ++ torn) — so the plan carries
    * O(firings + torn) literals, not O(batches): on a stream with
    * millions of stored batches an isin(clean) list is itself a scale
    * bug (plan bloat + no partition pruning), while firings stay rare
    * by construction and torn is empty in contract. Reads the full
    * decision map, so only bootstrap/firing batches call it — a
    * non-firing arrival must never pay the O(batches-seen) dec/
    * listing+reads. */
  private[streaming] def cleanPool(spark: SparkSession, root: String,
      batchId: Long, thresholdPpm: Long): (Seq[Long], DataFrame) = {
    val fired = decisionsUpTo(spark, root, batchId, thresholdPpm)
      .collect { case (c, true) => c }.toSeq.sorted
    val excluded = (fired ++ tornBatches(spark, root, batchId)).distinct.sorted
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

  /** One micro-batch's work — store, decide, maybe refit. Idempotent
    * under whole-batch replay (see class doc). An EMPTY micro-batch
    * writes a zero-row histogram and its drift limit is clean
    * (drift_num = 0) — decisionFor returns false. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      thresholdPpm: Long = ThresholdPpm): Unit =
    withDecision(batch, batchId, root, thresholdPpm, keepDocs = true) {
      (_, own) =>
        if (batchId == 0L || own) {
          val spark = batch.sparkSession
          import spark.implicits._
          val (fired, cleanDocs) =
            cleanPool(spark, root, batchId, thresholdPpm)
          val pool = ClassifierTrain.pool(cleanDocs,
            col("lang") === "en").persist()
          val w = try ClassifierTrain.fitWeights(pool)
            finally pool.unpersist()
          val rows = w.zipWithIndex.map { case (wt, b) =>
            (1L + fired.length, batchId, b.toLong, wt)
          }.toDF("version", "fired_batch", "bucket", "weight")
          KeyedUpsert.upsert(spark, s"$root/weights", rows,
            keyCols = Seq("version", "bucket"), numBuckets = 8)
        }
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
      thresholdPpm: Long = ThresholdPpm): DataFrame = {
    StreamDrift.runSliced(spark, docs, root, nSlices)(
      processBatch(_, _, root, thresholdPpm))
    weights(spark, root)
  }

  /** The same versioned-weights table computed without the stream
    * (batch = doc_id mod nSlices, batches folded in order) — the
    * spec's invariance reference. */
  def batchReference(docs: DataFrame, nSlices: Int = 4,
      thresholdPpm: Long = ThresholdPpm): Seq[(Long, Long, Long, Long)] = {
    val sliced = docs.select(
        pmod(col("doc_id"), lit(nSlices.toLong)).as("batch"),
        col("doc_id"), col("text"), col("lang"))
      .persist()
    try {
      // per-batch histograms over the axis, then the st17 drift fold
      val rep = StreamDrift.batchReference(docs, nSlices, axis)
        .collect()
      val fired = rep.map { r =>
        r.getLong(0) -> (BigInt(r.getLong(3)) * 1000000 >
          BigInt(thresholdPpm) * BigInt(r.getLong(1)) * BigInt(r.getLong(2)))
      }.toMap
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      var version = 0L
      for (b <- 0L until nSlices.toLong) {
        if (b == 0L || fired(b)) {
          version += 1L
          val clean = (0L to b).filter(c => !fired(c))
          val pool = ClassifierTrain.pool(
            sliced.filter(col("batch").isin(clean: _*)),
            col("lang") === "en").persist()
          val w = try ClassifierTrain.fitWeights(pool)
            finally pool.unpersist()
          w.zipWithIndex.foreach { case (wt, bk) =>
            out += ((version, b, bk.toLong, wt))
          }
        }
      }
      out.result()
    } finally { sliced.unpersist(); () }
  }
}
