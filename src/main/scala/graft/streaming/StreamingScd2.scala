package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Scd2
import graft.sinks.KeyedUpsert

/** Streaming SCD2 dimension maintenance: a change log arriving in
  * time-ordered micro-batches folds incrementally into a versioned
  * dimension table — the streaming form of the reference's repeated
  * dim-maintenance notebook runs (`Set Up Delta Tables/...Slowly
  * changing Data.scala`, [SU]:77–96), whose each run is exactly one
  * "batch" here.
  *
  * Per batch the fold touches O(delta) state, never the dimension:
  * only the OPEN rows of keys present in the batch join the fold
  * (left-semi on the batch's distinct keys); closed history is never
  * read, recomputed, or rewritten. The fold's output — the batch
  * keys' rebuilt open-era intervals — MERGEs into the store keyed on
  * (key..., valid_from): a newly-closed row updates in place (same
  * valid_from, valid_to filled), new intervals insert.
  *
  * Correctness contract: batches must partition the change log in
  * time order per key ([[Scd2.applyChanges]] is incremental-equals-
  * batch only for time-ordered splits — st15 publishes the topic in
  * mtime-forced ascending time slices for exactly this reason).
  *
  * Idempotent under replay: re-folding an already-applied batch
  * rewrites byte-identical rows — the batch's changes rebuild the very
  * intervals they created, consecutive-duplicate collapse drops the
  * change that matches the now-open row, and the MERGE key
  * (key, valid_from) lands every rewrite on its original row
  * (StreamingSpec pins this).
  *
  * The ordering contract is ENFORCED, not assumed: a change predating
  * its key's open interval is checked against the stored interval
  * covering its timestamp — attrs equal means a replay (pass); no
  * cover or different attrs means genuinely out-of-order new
  * information, and the batch fails loudly instead of silently
  * emitting an interval that overlaps closed history. Verified
  * replays are then EXCLUDED from the fold (they are history the
  * dimension already holds): only each key's changes at-or-after its
  * open valid_from fold, so a partial or mixed replay can never
  * rebuild the open era from incomplete history and overwrite a
  * closed row.
  */
object StreamingScd2 {

  /** Fold one micro-batch of changes (keys ++ attrs ++ tsCol, seqCol)
    * into the dimension at `dimDir`. */
  def foldBatch(changes: DataFrame, dimDir: String, keys: Seq[String],
      attrs: Seq[String], tsCol: String, seqCol: String,
      numBuckets: Int = 8): Unit = {
    val spark = changes.sparkSession
    val stored =
      if (KeyedUpsert.versions(spark, dimDir).nonEmpty)
        KeyedUpsert.read(spark, dimDir)
      else Scd2.emptyDim(changes, keys, attrs, tsCol)
    // the change frame appears twice in the tag plan (its own rows +
    // the distinct-keys semi-join side) and again on the late path —
    // each occurrence re-decodes the micro-batch unpersisted
    // (guide §1.2); cached for the fold's scope
    val ch = changes.persist()
    try {
    val openAffected = stored.filter(col("valid_to").isNull)
      .join(ch.select(keys.map(col): _*).distinct(), keys, "left_semi")
    // ONE join tags every change with its key's open valid_from; the
    // guard, the replay filter and the fold all read it (persisted —
    // three consumers, and isEmpty is its own job)
    val tagged = ch
      .join(openAffected.select(keys.map(col) :+
        col("valid_from").as("__open_from"): _*), keys, "left_outer")
      .persist()
    try {
    // Loud guard for the ordering contract: a change that predates its
    // key's OPEN interval is either (a) a REPLAY — it rebuilds closed
    // history it already created, so the stored interval COVERING its
    // ts carries the same attrs — or (b) genuinely out-of-order NEW
    // information, which the open-era fold would silently turn into an
    // interval overlapping a closed row. (a) is the normal crash-retry
    // path and must pass; (b) must fail the batch (retryable once the
    // producer is fixed) rather than corrupt the dimension. The check
    // is O(late x per-key intervals) and only runs when late changes
    // exist at all.
    // ONE aggregate over the persisted tag frame answers every
    // emptiness question of this fold (late? anything to fold at
    // all?) — the former three separate isEmpty probes (raw batch,
    // late split, ordered split) each cost their own job, one of them
    // a full re-decode of the batch (guide §1.2)
    val isLate = col("__open_from").isNotNull && col(tsCol) < col("__open_from")
    val probe = tagged.agg(
      count(when(isLate, 1)).as("n_late"),
      count(when(!isLate, 1)).as("n_ordered")).head()
    val (nLate, nOrdered) = (probe.getLong(0), probe.getLong(1))
    val lateChanges = tagged.filter(isLate).drop("__open_from")
    if (nLate > 0) {
      val c = lateChanges.select(
        lateChanges.columns.map(n => col(n).as(s"c_$n")): _*)
      val s = stored
        .join(ch.select(keys.map(col): _*).distinct(), keys, "left_semi")
        .select(stored.columns.map(n => col(n).as(s"s_$n")): _*)
      val covering =
        keys.map(k => col(s"c_$k") === col(s"s_$k")).reduce(_ && _) &&
          col("s_valid_from") <= col(s"c_$tsCol") &&
          (col("s_valid_to").isNull || col(s"c_$tsCol") < col("s_valid_to"))
      val conflicts = c.join(s, covering, "left_outer")
        .filter(col("s_valid_from").isNull || // nothing covers it
          attrs.map(a => !(col(s"c_$a") <=> col(s"s_$a"))).reduce(_ || _))
        .count()
      require(conflicts == 0,
        s"StreamingScd2: $conflicts out-of-order change(s) conflict " +
          "with stored history (not replays) — batches must partition " +
          "the change log in per-key time order (see the class doc)")
    }
    // Verified-replay late changes must NOT re-enter the fold: they are
    // history the dimension already holds, and folding them with the
    // open row rebuilds the open-era timeline from INCOMPLETE history —
    // a partial replay (stored [10,20)a [20,30)b [30,∞)c, batch {a@10})
    // would emit [10,30)a and MERGE it over the closed [20,30)b. Only
    // changes at-or-after their key's open valid_from (or for keys with
    // no open row) fold; a whole-batch replay thus reduces to the open
    // row's own re-derivation — a clean no-op — and a mixed batch folds
    // exactly its genuinely-new suffix.
    val ordered = tagged.filter(!isLate).drop("__open_from")
    if (nOrdered == 0) return // empty batch or pure replay of closed history
    // the semi-join restricting open rows to the ORDERED keys only
    // matters when late replays were filtered out above; on the common
    // all-ordered path (in-contract producers) ordered == the whole
    // batch and openAffected is already exactly the fold's open set —
    // skip the extra distinct + join per batch (guide §1.2)
    val foldOpen0 =
      if (nLate == 0) openAffected
      else openAffected
        .join(ordered.select(keys.map(col): _*).distinct(), keys, "left_semi")
    // persisted because Scd2.applyChanges reads its dim twice (the
    // closed pass-through branch + the open pseudo-change branch): an
    // unpersisted foldOpen re-runs the stored read + semi-joins per
    // branch, once per micro-batch (guide §1.2)
    val foldOpen = foldOpen0.persist()
    try {
      val updated = Scd2.applyChanges(foldOpen, ordered, keys, attrs,
        tsCol, seqCol)
      KeyedUpsert.upsert(spark, dimDir, updated,
        keys :+ "valid_from", numBuckets = numBuckets)
    } finally foldOpen.unpersist()
    } finally tagged.unpersist()
    } finally ch.unpersist()
  }

  /** Drive a full bounded run: decode `topicDir` as an events change
    * log (key `user_id`, attr `event_type`, ts/seq from the event),
    * fold each micro-batch, return the final dimension. */
  def runEventsDim(spark: SparkSession, topicDir: String, dimDir: String,
      ckptDir: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    import graft.sources.Topic
    StreamOps.runBounded(Topic.decodeEvents(
        Topic.readStream(spark, topicDir, maxFilesPerTrigger)), ckptDir) {
      (batch, _) =>
        foldBatch(
          batch.select(col("user_id"), col("event_type"),
            unix_timestamp(col("ts")).as("t"), col("event_id").as("seq")),
          dimDir, keys = Seq("user_id"), attrs = Seq("event_type"),
          tsCol = "t", seqCol = "seq")
    }
    KeyedUpsert.read(spark, dimDir)
      .select("user_id", "event_type", "valid_from", "valid_to")
  }
}
