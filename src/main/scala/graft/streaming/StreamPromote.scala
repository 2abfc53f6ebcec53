package graft.streaming


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.{ClassifierTrain, TextFns}

/** Model PROMOTION gate (st23) — the champion/challenger evaluation
  * st20 skips: st20 publishes every refit UNCONDITIONALLY, but a
  * production pipeline never serves an unevaluated model — a refit is
  * a CANDIDATE, and it is promoted only if it beats the serving
  * champion on held-out data. This composes st20's drift→refit loop
  * with t37's out-of-sample machinery into the full lifecycle:
  * detect → refit → evaluate → promote-or-reject.
  *
  * Per micro-batch (stores shared with [[StreamRefit]]: docs/, hist/,
  * the append-only dec/ decision bytes, the threshold lineage marker):
  *  1. persist the batch's documents and its [[StreamRefit.axis]]
  *     histogram; derive ONLY this batch's firing decision
  *     ([[StreamRefit.decisionFor]]) and store it;
  *  2. on batch 0 (bootstrap) or a firing batch b:
  *     - the clean pool is the never-fired batches ≤ b (a firing b is
  *       suspect and never trains or evaluates);
  *     - the CHALLENGER fits on the clean pool's TRAIN split
  *       ([[TextFns.splitAssign]] — the t37 leakage rule: held-out
  *       docs never influence the fit);
  *     - champion AND challenger are scored on the clean pool's VAL
  *       split in ONE aggregate projection (both weight vectors ride
  *       as plan reference objects in the same scan — the t38
  *       all-snapshots trick; never two passes), yielding exact
  *       integer correctness counts;
  *     - the candidate is PUBLISHED (version = 1 + published
  *       candidates before b) only if challenger val accuracy ≥
  *       champion's — equal counts promote, the freshly-fit model
  *       wins ties because it saw the newer distribution; otherwise a
  *       REJECTED candidate row set is recorded (the audit trail a
  *       real gate keeps) and the champion keeps serving. Batch 0
  *       bootstraps version 1 unconditionally (champ_ok = −1
  *       sentinel: there is no champion to compare against).
  *
  * The candidate store `cand/batch=<b>` is append-only in the same
  * sense as dec/: each row set is a pure function of strictly-earlier
  * state (stored decisions, stored candidates < b) plus batch b's
  * docs, so a whole-batch replay overwrites identical rows and later
  * batches READ the store instead of re-deriving prior fits. The
  * paired `pub/batch-<b>` checkpoint (post-b published count + latest
  * published batch, same append-only discipline) is what makes that
  * read FLAT on the candidates axis: a firing batch reads one tiny
  * pub/ byte-file plus the ≤64-row latest-champion directory — never
  * the whole candidate history (the round-14 quadratic-creep fix,
  * applied from birth here; [[pubStateBefore]] self-heals a root
  * whose pub/ trail is missing or behind cand/).
  *
  * Oracle: the pinned sf0.01 firing pattern (doc_id%4 fires exactly
  * at batch 2 — st20's ratios) replayed as two prefixed perceptron
  * CTE chains (champion = the batch-0 bootstrap chain, challenger =
  * the clean-{0,1} chain), t37's split-fold predicates, and an
  * integer accuracy comparison the SQL derives itself — a divergent
  * Spark-side promotion decision flips status/version on 64 rows and
  * goes hash-red.
  *
  * Scale shape, per firing batch: ONE perceptron fit (k bounded
  * scans of the clean train split), ONE combined evaluation scan of
  * the val split (two native scoring expressions in one projection →
  * 1-row collect), bounded reads of dec/ bytes and the ≤ 64-row
  * champion slice. Non-firing batches pay the st18 histogram price
  * only.
  */
object StreamPromote {

  /** One micro-batch: store → decide → on firing, fit the challenger,
    * evaluate both models out-of-sample, promote or reject. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      thresholdPpm: Long = StreamRefit.ThresholdPpm): Unit =
    StreamRefit.withDecision(batch, batchId, root, thresholdPpm,
        keepDocs = true) { (_, own) =>
      gateBatch(batch.sparkSession, batchId, root, thresholdPpm, own)
    }

  /** Promotion state STRICTLY BEFORE `batchId`:
    * (published count, fired batch of the latest published candidate —
    * −1 if none). The healthy path reads ONE tiny `pub/` checkpoint
    * byte-file (the latest entry < b — each firing batch appends its
    * post-state, a pure function of strictly-earlier state, so replays
    * overwrite identical bytes and a late replay's `< b` filter stays
    * blind to later entries); a root whose pub/ trail is missing or
    * behind its cand/ store (pre-upgrade, or a crash between the cand
    * and pub commits — the streaming contract replays such a batch,
    * but a direct processBatch caller might not) SELF-HEALS by folding
    * the candidate store once, exactly like dec/'s decisionFor heal.
    * This is what keeps a firing batch's read O(64) champion rows
    * forever instead of the whole candidate history. */
  private[graft] def pubStateBefore(spark: SparkSession,
      root: String, batchId: Long): (Long, Long) = {
    val fs = StreamRefit.hfs(spark, root)
    val pubBatches =
      StreamRefit.batchIdsUnder(fs, root, "pub", batchId - 1, "batch-")
    val candBatches = StreamRefit.batchIdsUnder(fs, root, "cand", batchId - 1)
    if (candBatches.isEmpty) (0L, -1L)
    else if (pubBatches.nonEmpty && pubBatches.max >= candBatches.max) {
      val raw = StreamRefit.readSmall(fs, new org.apache.hadoop.fs.Path(
        s"$root/pub/batch-${pubBatches.max}")).trim.split(',')
      (raw(0).toLong, raw(1).toLong)
    } else {
      // self-heal: fold the candidate store once (bounded: ≤ 64 rows
      // per candidate), the derivation pub/ checkpoints
      val published = spark.read.parquet(s"$root/cand")
        .select(col("batch").cast("long").as("fired"), col("status"))
        .filter(col("fired") < batchId && col("status") === "published")
        .select("fired").distinct().collect().map(_.getLong(0)).sorted
      (published.length.toLong, published.lastOption.getOrElse(-1L))
    }
  }

  /** Every published (fired batch → version) pair, in batch order —
    * the serving map st24's lineage joins against. The healthy path
    * derives it from the `pub/` byte trail ALONE (an entry at batch f
    * records its post-f state, so f is a publish iff its recorded
    * latest == f, and its version is its recorded count — equal by
    * construction to the version gateBatch wrote into cand/): one FS
    * listing + |candidates| tiny byte reads, no parquet scan of the
    * 64-rows-per-candidate store. A root whose pub/ trail is missing
    * or behind cand/ (pre-checkpoint) self-heals by folding the
    * candidate store once — the same discipline as
    * [[pubStateBefore]]. */
  private[graft] def publishedVersions(spark: SparkSession,
      root: String): Seq[(Long, Long)] = {
    val fs = StreamRefit.hfs(spark, root)
    val pubBatches = StreamRefit.batchIdsUnder(fs, root, "pub",
      prefix = "batch-")
    val candBatches = StreamRefit.batchIdsUnder(fs, root, "cand")
    // enumeration needs the trail COMPLETE (every candidate batch has
    // its pub entry) — a max-based check suffices for pubStateBefore,
    // whose single latest entry carries cumulative state, but here a
    // hole (pre-checkpoint root + one replayed firing batch) would
    // silently drop the missing batches' publications from the map
    if (candBatches.isEmpty) Seq.empty
    else if (candBatches.toSet.subsetOf(pubBatches.toSet))
      pubBatches.flatMap { f =>
        val raw = StreamRefit.readSmall(fs,
          new org.apache.hadoop.fs.Path(s"$root/pub/batch-$f"))
          .trim.split(',')
        if (raw(1).toLong == f) Some(f -> raw(0).toLong) else None
      }
    else
      // self-heal: one bounded fold of the candidate store
      spark.read.parquet(s"$root/cand")
        .select(col("batch").cast("long").as("fired"), col("version"),
          col("status"))
        .filter(col("status") === "published")
        .distinct().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
  }

  /** The MODEL-plane action alone, given an already-derived decision —
    * invoked by [[processBatch]] and by the COMPOSING caller (st24's
    * [[StreamLineage]]) after the shared store/decide step, so the
    * composition never writes hist/cumhist or derives the decision
    * twice per micro-batch. Requires `docs/batch=<id>` and the drift
    * stores for this batch to be committed already. */
  private[streaming] def gateBatch(spark: SparkSession, batchId: Long,
      root: String, thresholdPpm: Long, own: Boolean): Unit = {
    import spark.implicits._
    if (batchId == 0L || own) {
      val (_, cleanDocs) =
        StreamRefit.cleanPool(spark, root, batchId, thresholdPpm)
      // promotion state before b: one pub/ checkpoint read; the
      // champion's weights then come from ONE ≤64-row candidate
      // directory — never the whole candidate history
      val (publishedCount, latestPublished) =
        pubStateBefore(spark, root, batchId)
      val champion: Option[IndexedSeq[Long]] =
        if (latestPublished < 0L) None
        else {
          val w = spark.read
            .parquet(s"$root/cand/batch=$latestPublished")
            .filter(col("status") === "published")
            .select(col("bucket"), col("weight"))
            .collect() // bounded: ≤ 64 weight rows
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          Some(IndexedSeq.tabulate(ClassifierTrain.Dim)(b =>
            w.getOrElse(b.toLong, 0L)))
        }
      val trainPool = ClassifierTrain.pool(
        cleanDocs.filter(
          TextFns.splitAssign(col("doc_id")) === "train"),
        col("lang") === "en").persist()
      val challenger = try ClassifierTrain.fitWeights(trainPool)
        finally trainPool.unpersist()
      val valPool = ClassifierTrain.pool(
        cleanDocs.filter(TextFns.splitAssign(col("doc_id")) === "val"),
        col("lang") === "en")
      // ONE evaluation scan: champion + challenger scored side by side
      def okCount(w: IndexedSeq[Long]) = count(when(
        col("y").cast("double") *
          ClassifierTrain.score(col("ws"), w) > 0.0, lit(1)))
      val evalRow = valPool.agg(
        champion.map(okCount).getOrElse(coalesce(max(lit(-1L)), lit(-1L)))
          .as("champ_ok"),
        okCount(challenger).as("chall_ok"),
        count(lit(1)).as("n_val")).head() // bounded: 1 row
      val (champOk, challOk, nVal) =
        (evalRow.getLong(0), evalRow.getLong(1), evalRow.getLong(2))
      val accepted = champion.isEmpty || challOk >= champOk
      val version: Option[Long] =
        if (accepted) Some(1L + publishedCount) else None
      val status = if (accepted) "published" else "rejected"
      challenger.zipWithIndex.map { case (wt, b) =>
        (b.toLong, wt, champOk, challOk, nVal, version, status)
      }.toDF("bucket", "weight", "champ_ok", "chall_ok", "n_val",
          "version", "status")
        .write.mode("overwrite").parquet(s"$root/cand/batch=$batchId")
      // this batch's post-state checkpoint, AFTER the cand commit (a
      // crash in between leaves pub/ behind cand/ — the self-heal case)
      val (nextCount, nextLatest) =
        if (accepted) (publishedCount + 1L, batchId)
        else (publishedCount, latestPublished)
      StreamRefit.writeSmall(StreamRefit.hfs(spark, root),
        new org.apache.hadoop.fs.Path(s"$root/pub/batch-$batchId"),
        s"$nextCount,$nextLatest")
    }
  }

  /** The candidate history: every evaluated challenger's 64 weights,
    * its out-of-sample evidence, and the promotion verdict. */
  def candidates(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/cand")
      .select(col("batch").cast("long").as("fired_batch"), col("bucket"),
        col("weight"), col("champ_ok"), col("chall_ok"), col("n_val"),
        col("version"), col("status"))
      .orderBy("fired_batch", "bucket")

  /** Publish, stream, gate every refit through the promotion check —
    * the registered st23 entry. */
  def run(spark: SparkSession, docs: DataFrame, root: String,
      nSlices: Int = 4,
      thresholdPpm: Long = StreamRefit.ThresholdPpm): DataFrame = {
    StreamDrift.runSliced(spark, docs, root, nSlices)(
      processBatch(_, _, root, thresholdPpm))
    candidates(spark, root)
  }

  /** The same candidate table computed without the stream (batch =
    * doc_id mod nSlices, candidates folded in batch order) — the
    * spec's invariance reference. */
  def batchReference(docs: DataFrame, nSlices: Int = 4,
      thresholdPpm: Long = StreamRefit.ThresholdPpm)
      : Seq[(Long, Long, Long, Long, Long, Long, Option[Long], String)] = {
    val sliced = docs.select(
        pmod(col("doc_id"), lit(nSlices.toLong)).as("batch"),
        col("doc_id"), col("text"), col("lang"))
      .persist()
    try {
      val fired = StreamDrift
        .batchReference(docs, nSlices, StreamRefit.axis)
        .collect()
        .map { r =>
          r.getLong(0) -> (BigInt(r.getLong(3)) * 1000000 >
            BigInt(thresholdPpm) * BigInt(r.getLong(1)) *
              BigInt(r.getLong(2)))
        }.toMap
      val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long,
        Option[Long], String)]
      var champion: Option[IndexedSeq[Long]] = None
      var published = 0L
      for (b <- 0L until nSlices.toLong) {
        if (b == 0L || fired(b)) {
          val clean = (0L to b).filter(c => !fired(c))
          val cleanDocs = sliced.filter(col("batch").isin(clean: _*))
          val trainPool = ClassifierTrain.pool(
            cleanDocs.filter(
              TextFns.splitAssign(col("doc_id")) === "train"),
            col("lang") === "en").persist()
          val challenger = try ClassifierTrain.fitWeights(trainPool)
            finally trainPool.unpersist()
          val valPool = ClassifierTrain.pool(
            cleanDocs.filter(
              TextFns.splitAssign(col("doc_id")) === "val"),
            col("lang") === "en")
          def okCount(w: IndexedSeq[Long]) = count(when(
            col("y").cast("double") *
              ClassifierTrain.score(col("ws"), w) > 0.0, lit(1)))
          val r = valPool.agg(
            champion.map(okCount).getOrElse(coalesce(max(lit(-1L)), lit(-1L))),
            okCount(challenger), count(lit(1))).head()
          val (champOk, challOk, nVal) =
            (r.getLong(0), r.getLong(1), r.getLong(2))
          val accepted = champion.isEmpty || challOk >= champOk
          val version = if (accepted) Some(published + 1L) else None
          val status = if (accepted) "published" else "rejected"
          if (accepted) { champion = Some(challenger); published += 1L }
          challenger.zipWithIndex.foreach { case (wt, bk) =>
            out += ((b, bk.toLong, wt, champOk, challOk, nVal, version,
              status))
          }
        }
      }
      out.result()
    } finally { sliced.unpersist(); () }
  }
}
