package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-backed message topic reproducing the Kafka source contract
  * (SURVEY.md S1: `spark.readStream.format("kafka")`, key/value +
  * timestamp, `Bronze-Silver/Part1 ...scala:25-26`). The local build has
  * no Kafka connector, so a topic is a directory of JSON-lines files with
  * the same three logical columns; `maxFilesPerTrigger` stands in for
  * micro-batch sizing (`minPartitions=10` in the reference).
  *
  * At cluster scale the same code binds to `format("kafka")` — every
  * downstream transform only sees (key, value, timestamp).
  */
object Topic {

  /** Kafka-shaped record contract. */
  val schema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("timestamp", LongType))) // epoch micros, like Kafka CreateTime

  /** Serialize a DataFrame into the topic as JSON-lines files: each row
    * becomes `value = to_json(struct(*))`; `tsMicros` supplies the
    * message timestamp (epoch micros); `nFiles` controls micro-batch
    * granularity for `maxFilesPerTrigger`-driven streams.
    * `append = true` adds new files to a live topic (a producer
    * publishing while consumers run) instead of replacing it. */
  def publish(df: DataFrame, topicDir: String, tsMicros: org.apache.spark.sql.Column,
      keyCol: Option[String] = None, nFiles: Int = 4,
      append: Boolean = false): Unit = {
    val key = keyCol.map(col(_).cast("string")).getOrElse(lit(null).cast("string"))
    df.select(
        key.as("key"),
        to_json(struct(df.columns.map(col): _*)).as("value"),
        tsMicros.as("timestamp"))
      .repartition(nFiles)
      .write.mode(if (append) "append" else "overwrite").json(topicDir)
  }

  /** Publish a topic as `nSlices` ordered arrival waves:
    * `publishSlice(k, append)` writes wave k's files, and each wave's
    * NEW files get a forced strictly-increasing mtime (+60 s per wave)
    * so the file stream source replays the waves as ordered
    * micro-batches. ONE definition of the ordering trick — the SCD2
    * change-log publisher and the drift monitors all ride this; two
    * hand-rolled copies of the listFiles-diff + setLastModified loop
    * would drift independently.
    *
    * Deliberately local java.io: setLastModified is a LOCAL-FS test
    * trick that stands in for a broker's arrival order — on a real
    * cluster the waves come from Kafka offsets, not file mtimes. */
  def publishOrderedSlices(topicDir: String, nSlices: Int)(
      publishSlice: (Int, Boolean) => Unit): Unit = {
    val dir = new java.io.File(topicDir)
    var mtime = System.currentTimeMillis()
    for (k <- 0 until nSlices) {
      val before = Option(dir.listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
      publishSlice(k, k > 0)
      mtime += 60000L
      dir.listFiles().filter(f => !before.contains(f.getName))
        .foreach(_.setLastModified(mtime))
    }
  }

  /** [[publishOrderedSlices]] split on a column: wave k is the rows of
    * `df` whose `sliceCol` mod `nSlices` is k, written by
    * `publishSlice(rows, append)` — a membership rule an oracle replays
    * in plain SQL. */
  def publishSlicedBy(df: DataFrame, sliceCol: String, topicDir: String,
      nSlices: Int)(publishSlice: (DataFrame, Boolean) => Unit): Unit =
    publishOrderedSlices(topicDir, nSlices) { (k, append) =>
      publishSlice(
        df.filter(pmod(col(sliceCol), lit(nSlices.toLong)) === k.toLong),
        append)
    }

  /** Tail the topic as a stream (S1). */
  def readStream(spark: SparkSession, topicDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(topicDir)

  /** Batch re-read of a topic (backfill path, SURVEY.md S5). */
  def readBatch(spark: SparkSession, topicDir: String): DataFrame =
    spark.read.schema(schema).json(topicDir)

  /** Decode a (key,value,timestamp) topic frame back into typed rows with
    * `from_json` (J2). `payloadSchema` declares the value envelope. */
  def decode(topic: DataFrame, payloadSchema: StructType): DataFrame =
    topic.select(from_json(col("value"), payloadSchema).as("r"),
        col("timestamp").as("_kafka_ts"))
      .select((payloadSchema.fieldNames.map(f => col(s"r.$f")) :+
        col("_kafka_ts")): _*)

  /** The events-table envelope as published by `publish` (`ts` travels as
    * epoch micros inside the JSON value). */
  val eventsPayloadSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Publish the events table (ts encoded as epoch micros). */
  def publishEvents(events: DataFrame, topicDir: String, nFiles: Int = 4,
      append: Boolean = false): Unit =
    publish(events.withColumn("ts", unix_micros(col("ts"))), topicDir,
      tsMicros = col("ts"), keyCol = Some("user_id"), nFiles = nFiles,
      append = append)

  /** Decode an events topic back to the events-table shape. */
  def decodeEvents(topic: DataFrame): DataFrame =
    decode(topic, eventsPayloadSchema)
      .withColumn("ts", timestamp_micros(col("ts")))
      .drop("_kafka_ts")

  /** The documents-table envelope (corpus ingest: docs arrive as
    * messages on a topic, the 100 TB training-data front door). */
  val documentsPayloadSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Publish the documents table (doc_id keyed; no event time in the
    * corpus, so the message timestamp is the doc id — ingest-order
    * semantics, like a producer stamping enqueue time). */
  def publishDocuments(docs: DataFrame, topicDir: String, nFiles: Int = 4): Unit =
    publish(docs, topicDir, tsMicros = col("doc_id"),
      keyCol = Some("doc_id"), nFiles = nFiles)

  /** Decode a documents topic back to the documents-table shape. */
  def decodeDocuments(topic: DataFrame): DataFrame =
    decode(topic, documentsPayloadSchema).drop("_kafka_ts")
}
