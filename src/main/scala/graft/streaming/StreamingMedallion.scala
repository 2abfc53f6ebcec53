package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Dims, Medallion}
import graft.sinks.KeyedUpsert
import graft.sources.Topic

/** The medallion pipeline run as a Structured Streaming job (SURVEY.md
  * §3.1–§3.3): topic -> decode -> watermark dedup (ST1) -> silver ->
  * gold (stream–static broadcast joins) -> day-rollup aggregate in
  * update mode -> foreachBatch keyed upsert (K4).
  *
  * The batch transforms from [[graft.pipeline.Medallion]] are reused
  * verbatim — the streaming topology only adds sources, state and sinks,
  * which is exactly how the reference splits its notebooks.
  */
object StreamingMedallion {

  /** Topic stream -> deduped silver stream. */
  def silverStream(spark: SparkSession, topicDir: String,
      maxFilesPerTrigger: Int = 1, dedupRetention: String = "48 hours")
      : DataFrame = {
    val events = Topic.decodeEvents(
      Topic.readStream(spark, topicDir, maxFilesPerTrigger))
    val deduped = StreamOps.watermarkDedup(events, "ts", dedupRetention,
      tag = "evt", keyCols = Seq(col("event_id"), col("event_type")))
    Medallion.silver(deduped)
  }

  /** Silver stream -> gold stream (stream–static broadcast joins JN1/JN4
    * — dims are batch frames, Catalyst broadcasts per micro-batch). */
  def goldStream(spark: SparkSession, silver: DataFrame): DataFrame =
    Medallion.gold(silver, Dims.metricMappings(spark), Dims.deviceHistory(spark))

  /** Run the whole chain bounded ([[StreamOps.runBounded]]) and upsert the
    * day rollup into `outDir`. Update-mode aggregate + keyed upsert is
    * the reference's "a lot more scalable than complete mode" pattern
    * (`Gold Aggregation/OLD - Step 05 ...scala:4-5,41-55`). Returns the
    * number of micro-batches processed. */
  def runDayRollup(spark: SparkSession, topicDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1,
      numBuckets: Int = 8, dedupRetention: String = "48 hours"): Long = {
    // ST6: isolate this query in its own fair-scheduler pool, like the
    // reference names/pools every stream ([P1]:66,216,294)
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-rollup")
    val gold = goldStream(spark,
      silverStream(spark, topicDir, maxFilesPerTrigger, dedupRetention))
    var batches = 0L
    StreamOps.runBounded(Medallion.dayRollup(gold), checkpointDir,
        "update") { (batch, _) =>
      batches += 1
      KeyedUpsert.upsert(batch.sparkSession, outDir, batch,
        keyCols = Seq("id"), numBuckets = numBuckets)
    }
    batches
  }

  /** Continuously maintain the HOUR-grain rollup PARTIALS (exact
    * decimal sum / count / min / max per serving id — the mergeable
    * state of [[Medallion.rollupPartials]]) as a keyed table: the
    * streaming aggregate holds the running partials, update mode emits
    * each micro-batch's changed keys whole, and the keyed MERGE
    * replaces them. Day/month rollups then derive from this table via
    * [[Medallion.cascadeFromHourPartials]] WITHOUT ever re-scanning
    * events — the streaming front door of the rollup cascade: at
    * 100 TB the raw stream is touched once, and every coarser grain is
    * O(hour groups) reaggregation at read (or publish) time. */
  def runHourPartials(spark: SparkSession, topicDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1,
      numBuckets: Int = 8, dedupRetention: String = "48 hours"): Unit = {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-rollup")
    val gold = goldStream(spark,
      silverStream(spark, topicDir, maxFilesPerTrigger, dedupRetention))
    val partials = Medallion.rollupPartials(gold,
        ts => unix_timestamp(date_trunc("hour", ts)))
      .withColumn("id", graft.functions.Fns.servingId(col("remote_id"),
        col("bucket_ts"), col("metric_id"), col("provider_id"),
        col("category_id")))
    StreamOps.runBounded(partials, checkpointDir, "update") { (batch, _) =>
      KeyedUpsert.upsert(batch.sparkSession, outDir, batch,
        keyCols = Seq("id"), numBuckets = numBuckets)
    }
  }

  /** Streaming latest-value table ([O5D]:97-152 semantics): update-mode
    * max-per-4-key aggregate, upserted with a conditional MERGE so
    * out-of-order micro-batches can never regress a key to an older
    * value. `ord = struct(unixTimestamp, element)` reproduces the
    * batch form's deterministic tiebreak. */
  def runLatest(spark: SparkSession, topicDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1,
      numBuckets: Int = 8, dedupRetention: String = "3650 days"): Unit = {
    val gold = goldStream(spark,
      silverStream(spark, topicDir, maxFilesPerTrigger, dedupRetention))
    val latest = gold
      .groupBy("remote_id", "metric_id", "provider_id", "category_id")
      .agg(max(struct(col("unix_timestamp"),
        col("element").cast("long").as("element_ord"),
        col("value_double"), col("value_string"))).as("top"))
      .select(col("remote_id"), col("metric_id"), col("provider_id"),
        col("category_id"),
        col("top.unix_timestamp").as("unix_timestamp"),
        col("top.element_ord").as("element_ord"),
        col("top.value_double").as("value_double"),
        col("top.value_string").as("value_string"))
      .withColumn("ord",
        struct(col("unix_timestamp"), col("element_ord")))
    StreamOps.runBounded(latest, checkpointDir, "update") { (batch, _) =>
      KeyedUpsert.upsert(batch.sparkSession, outDir, batch,
        keyCols = Seq("remote_id", "metric_id", "provider_id",
          "category_id"),
        numBuckets = numBuckets, tieBreak = Some("ord"),
        keepMaxOnMerge = true)
    }
  }
}
