package graft.streaming

import org.apache.hadoop.fs.Path

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
  * Per micro-batch (stores shared with st20 through [[DriftGate]]:
  * docs/, hist/, the dec/ trail, the threshold lineage marker):
  *  1. persist the batch's documents; the gate decides ONLY this
  *     batch's firing;
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
      thresholdPpm: Long = DriftGate.ThresholdPpm): Unit =
    DriftGate.withDecision(batch, batchId, root, thresholdPpm,
        keepDocs = true) { (_, own) =>
      gateBatch(batch.sparkSession, batchId, root, thresholdPpm, own)
    }

  /** Promotion state STRICTLY BEFORE `batchId`: (published count,
    * fired batch of the latest published candidate — −1 if none). The
    * healthy path reads ONE tiny `pub/` entry, the latest < b: each
    * firing batch appends its post-state, a pure function of
    * strictly-earlier state, so a late replay's `< b` filter stays
    * blind to later entries. This is what keeps a firing batch's read
    * O(64) champion rows forever instead of the whole candidate
    * history. */
  private[graft] def pubStateBefore(spark: SparkSession,
      root: String, batchId: Long): (Long, Long) =
    published(spark, root, batchId - 1, latestOnly = true).lastOption
      .fold((0L, -1L)) { case (fired, version) => (version, fired) }

  /** Every published (fired batch → version) pair, in batch order —
    * the serving map st24's lineage joins against, from the `pub/`
    * trail alone: one FS listing + |candidates| tiny reads, no parquet
    * scan of the 64-rows-per-candidate store. */
  private[graft] def publishedVersions(spark: SparkSession,
      root: String): Seq[(Long, Long)] =
    published(spark, root, Long.MaxValue, latestOnly = false)

  /** The published (fired batch, version) pairs of candidates ≤ `upTo`,
    * in batch order. An entry at batch f records the post-f state
    * (count, latest), so (latest, count) is a published pair, equal by
    * construction to the version gateBatch wrote into cand/. With
    * `latestOnly` only the latest entry is read, which needs the trail
    * to reach cand/'s latest batch; otherwise every entry is read,
    * which needs one per cand/ batch — a hole (pre-checkpoint root plus
    * one replayed firing batch) would drop publications from the map.
    * A trail short of that (pre-upgrade, or a crash between the cand
    * and pub commits — the streaming contract replays such a batch,
    * a direct processBatch caller might not) SELF-HEALS by folding the
    * candidate store once (bounded: ≤ 64 rows per candidate). */
  private def published(spark: SparkSession, root: String, upTo: Long,
      latestOnly: Boolean): Seq[(Long, Long)] = {
    val fs = Store.hfs(spark, root)
    val pub = Store.batchIdsUnder(fs, root, "pub", upTo, "batch-")
    val cand = Store.batchIdsUnder(fs, root, "cand", upTo)
    lazy val covered =
      if (latestOnly) pub.lastOption.exists(_ >= cand.last)
      else cand.toSet.subsetOf(pub.toSet)
    if (cand.isEmpty) Seq.empty
    else if (covered)
      (if (latestOnly) pub.takeRight(1) else pub).map { f =>
        val Array(count, latest) = Store.readTrail(fs, pubEntry(root, f))
          .get.trim.split(',').map(_.toLong)
        latest -> count
      }.distinct
    else
      spark.read.parquet(s"$root/cand")
        .select(col("batch").cast("long").as("fired"), col("version"),
          col("status"))
        .filter(col("fired") <= upTo && col("status") === "published")
        .distinct().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
  }

  private def pubEntry(root: String, batchId: Long): Path =
    new Path(s"$root/pub/batch-$batchId")

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
        DriftGate.cleanPool(spark, root, batchId, thresholdPpm)
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
      val c = challenge(cleanDocs, champion, publishedCount)
      c.rows.toDF("bucket", "weight", "champ_ok", "chall_ok", "n_val",
          "version", "status")
        .write.mode("overwrite").parquet(s"$root/cand/batch=$batchId")
      // this batch's post-state checkpoint, AFTER the cand commit (a
      // crash in between leaves pub/ behind cand/ — the self-heal case)
      val (nextCount, nextLatest) =
        if (c.version.isDefined) (publishedCount + 1L, batchId)
        else (publishedCount, latestPublished)
      Store.publishTrail(Store.hfs(spark, root), pubEntry(root, batchId),
        s"$nextCount,$nextLatest")
    }
  }

  /** An evaluated challenger: published as `version`, or rejected. */
  private final case class Candidate(weights: IndexedSeq[Long],
      champOk: Long, challOk: Long, nVal: Long, version: Option[Long]) {
    /** Its stored rows: (bucket, weight, champ_ok, chall_ok, n_val,
      * version, status). */
    def rows: Seq[(Long, Long, Long, Long, Long, Option[Long], String)] =
      weights.zipWithIndex.map { case (wt, b) =>
        (b.toLong, wt, champOk, challOk, nVal, version,
          if (version.isDefined) "published" else "rejected")
      }
  }

  /** The CHALLENGER fits on `cleanDocs`' TRAIN split; champion AND
    * challenger are then scored on its VAL split in ONE aggregate
    * projection (champ_ok = −1 without a champion). It is published as
    * version 1 + `publishedBefore` iff chall_ok ≥ champ_ok — ties
    * promote — or there is no champion. */
  private def challenge(cleanDocs: DataFrame,
      champion: Option[IndexedSeq[Long]], publishedBefore: Long): Candidate = {
    def split(s: String) =
      cleanDocs.filter(TextFns.splitAssign(col("doc_id")) === s)
    val challenger = StreamRefit.fit(split("train"))
    def okCount(w: IndexedSeq[Long]) = count(when(
      col("y").cast("double") *
        ClassifierTrain.score(col("ws"), w) > 0.0, lit(1)))
    val r = ClassifierTrain.pool(split("val"), col("lang") === "en").agg(
      champion.map(okCount).getOrElse(coalesce(max(lit(-1L)), lit(-1L)))
        .as("champ_ok"),
      okCount(challenger).as("chall_ok"),
      count(lit(1)).as("n_val")).head() // bounded: 1 row
    val (champOk, challOk) = (r.getLong(0), r.getLong(1))
    Candidate(challenger, champOk, challOk, r.getLong(2),
      if (champion.isEmpty || challOk >= champOk) Some(1L + publishedBefore)
      else None)
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
      thresholdPpm: Long = DriftGate.ThresholdPpm): DataFrame = {
    StreamDrift.runSliced(spark, docs, root, nSlices)(
      processBatch(_, _, root, thresholdPpm))
    candidates(spark, root)
  }

  /** The same candidate table computed without the stream (batch =
    * doc_id mod nSlices, candidates folded in batch order) — the
    * spec's invariance reference. */
  def batchReference(docs: DataFrame, nSlices: Int = 4,
      thresholdPpm: Long = DriftGate.ThresholdPpm)
      : Seq[(Long, Long, Long, Long, Long, Long, Option[Long], String)] = {
    val sliced = docs.select(
        pmod(col("doc_id"), lit(nSlices.toLong)).as("batch"),
        col("doc_id"), col("text"), col("lang"))
      .persist()
    try {
      val fired = DriftGate.firedBatches(docs, nSlices, thresholdPpm)
      val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long,
        Option[Long], String)]
      var champion: Option[IndexedSeq[Long]] = None
      var published = 0L
      for (b <- 0L until nSlices.toLong) {
        if (b == 0L || fired(b)) {
          val clean = (0L to b).filter(c => !fired(c))
          val c = challenge(sliced.filter(col("batch").isin(clean: _*)),
            champion, published)
          if (c.version.isDefined) {
            champion = Some(c.weights); published += 1L
          }
          out ++= c.rows.map { case (bk, wt, co, cl, n, v, st) =>
            (b, bk, wt, co, cl, n, v, st) }
        }
      }
      out.result()
    } finally { sliced.unpersist(); () }
  }
}
