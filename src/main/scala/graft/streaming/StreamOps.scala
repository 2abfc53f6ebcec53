package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.functions.Fns
import graft.sources.Topic

/** Streaming building blocks (SURVEY.md §2.11). The transforms are
  * plain DataFrame functions so they compose with both streaming and
  * batch frames (batch: watermark is a no-op); the bounded runners are
  * the one place a query is given its checkpoint and trigger.
  */
object StreamOps {

  /** Run `ds` to completion over everything available now, handing
    * each micro-batch and its id to `perBatch` — the ONE bounded-run
    * wiring of every actor and streaming query: `checkpointLocation`,
    * `Trigger.AvailableNow()`, start, `awaitTermination`. The
    * exactly-once contract rests on the three parts Structured
    * Streaming combines here: the replayable topic source, the offset
    * log under `checkpoint`, and a `perBatch` that is idempotent in
    * the batch id (a batch whose `perBatch` threw — or whose process
    * died before the commit log recorded it — is re-delivered whole on
    * restart). A batch failure is rethrown by `awaitTermination`. */
  def runBounded[T](ds: Dataset[T], checkpoint: String,
      outputMode: String = "append")(perBatch: (Dataset[T], Long) => Unit)
      : Unit =
    startAndAwait(ds.writeStream.outputMode(outputMode)
      .foreachBatch(perBatch), checkpoint)

  /** The sliced entry of the drift-family actors and st22: create
    * `root`, let `publish` write the topic's ordered arrival waves to
    * `root/topic`, and stream it one file per micro-batch, decoded by
    * `decode`, through `perBatch` with the checkpoint at `root/ckpt`. */
  def runSliced(spark: SparkSession, root: String, publish: String => Unit,
      decode: DataFrame => DataFrame)(perBatch: (DataFrame, Long) => Unit)
      : Unit = {
    Store.hfs(spark, root).mkdirs(new org.apache.hadoop.fs.Path(root))
    publish(s"$root/topic")
    runBounded(decode(Topic.readStream(spark, s"$root/topic",
      maxFilesPerTrigger = 1)), s"$root/ckpt")(perBatch)
  }

  /** [[runBounded]] through Spark's own parquet file sink (its
    * `_spark_metadata` log is the idempotent commit) — the append-mode
    * stateful queries whose output Spark writes itself. */
  def runBoundedToParquet(df: DataFrame, checkpoint: String,
      path: String): Unit =
    startAndAwait(df.writeStream.format("parquet").option("path", path),
      checkpoint)

  private def startAndAwait[T](w: DataStreamWriter[T],
      checkpoint: String): Unit =
    w.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** ST1 keyed dedup with bounded state: sha1 fingerprint over
    * `keyCols`, `withWatermark(tsCol, retention)` then
    * `dropDuplicates` on the key — the exactly-once-ish guard every
    * bronze/silver table applies (`Bronze-Silver/Part1 ...scala:68-70`;
    * retention 10 s – 750 h per table, kept as data like the
    * reference's Configuration notebook). */
  def watermarkDedup(df: DataFrame, tsCol: String, retention: String,
      tag: String, keyCols: Seq[Column]): DataFrame =
    df.withColumn("__dedup_key", Fns.dedupKey(tag, keyCols: _*))
      .withWatermark(tsCol, retention)
      // the event-time column MUST be in the dedup subset or Spark
      // never evicts dedup state on watermark advance (unbounded
      // state); true duplicates carry identical event times, so
      // semantics are unchanged — this matches the reference, whose
      // hash keys embed the timestamp
      .dropDuplicates("__dedup_key", tsCol)
      .drop("__dedup_key")

  /** ST4 late-data admission gate: drop events older than `maxAgeSec`
    * relative to `now` (injectable for deterministic tests; the
    * reference pins wall clock, `Part2:52,272`). */
  def lateDataGate(df: DataFrame, tsCol: String, maxAgeSec: Long,
      now: Column = current_timestamp()): DataFrame =
    df.filter(unix_timestamp(col(tsCol)) > unix_timestamp(now) - maxAgeSec)
}
