package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{Tables, Topic}

/** Streaming state-layer checks: RocksDB state store provider (ST5),
  * and watermarked tumbling-window aggregation in append mode
  * (A3 + ST9 — the reference derives buckets as columns, but the
  * engine must also offer native window() semantics).
  */
class StreamingStateSpec extends SparkSpec {
  import spark.implicits._

  test("watermark dedup runs on the RocksDB state store provider") {
    val dir = tmp("rocks")
    val events = Tables.events(spark, SfDir).limit(300)
    Topic.publishEvents(events, s"$dir/t1", nFiles = 1)
    val dup = spark.read.schema(Topic.schema).json(s"$dir/t1")
    dup.union(dup).write.json(s"$dir/topic")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val deduped = graft.streaming.StreamOps.watermarkDedup(
        Topic.decodeEvents(Topic.readStream(spark, s"$dir/topic", 10)),
        "ts", "3650 days", "evt", Seq(col("event_id")))
      val q = deduped.writeStream.format("memory").queryName("rocks_out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table("rocks_out").count() shouldBe events.count()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("flatMapGroupsWithState custom tracker converges to batch truth") {
    import graft.streaming.StatefulOps
    val dir = tmp("fmgs")
    val events = Tables.events(spark, SfDir)
    Topic.publishEvents(events, s"$dir/topic", nFiles = 3)
    val readings = Topic.decodeEvents(
        Topic.readStream(spark, s"$dir/topic", 1))
      .select(concat($"user_id", lit("|"), $"event_type").as("key"),
        unix_timestamp($"ts").as("ts"), $"value")
      .as[StatefulOps.KeyedReading]
    val q = StatefulOps.track(spark, readings)
      .writeStream.format("memory").queryName("fmgs_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // memory sink in update mode appends each emission; last per key wins
    val finalState = spark.table("fmgs_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("key")
          .orderBy($"n".desc)))
      .filter($"rn" === 1)
    val truth = events
      .select(concat($"user_id", lit("|"), $"event_type").as("key"),
        unix_timestamp($"ts").as("ts"), $"value")
      .groupBy("key").agg(count(lit(1)).as("n"), max("ts").as("maxTs"))
    finalState.join(truth, Seq("key"))
      .filter(finalState("n") =!= truth("n") ||
        finalState("maxTs") =!= truth("maxTs"))
      .count() shouldBe 0
    finalState.count() shouldBe truth.count()
  }

  test("tracker evicts idle keys after the processing-time timeout") {
    import graft.streaming.StatefulOps
    val dir = tmp("fmgs-timeout")
    val src = new java.io.File(s"$dir/src"); src.mkdirs()
    // three files processed as three batches (maxFilesPerTrigger=1),
    // ordered by explicit modification times
    val t0 = System.currentTimeMillis() - 600000
    def write(name: String, mtime: Long, lines: String*): Unit = {
      val f = new java.io.File(src, name)
      Files.write(f.toPath, lines.mkString("\n").getBytes)
      f.setLastModified(mtime)
    }
    write("a1.json", t0,
      """{"key":"A","ts":1,"value":1.0}""",
      """{"key":"A","ts":2,"value":2.0}""")
    write("b.json", t0 + 60000, """{"key":"B","ts":3,"value":3.0}""")
    write("a2.json", t0 + 120000, """{"key":"A","ts":9,"value":9.0}""")
    val readings = spark.readStream
      .schema("key string, ts long, value double")
      .option("maxFilesPerTrigger", 1)
      .json(src.toString)
      .as[StatefulOps.KeyedReading]
    // NOTE: no Trigger.AvailableNow / awaitTermination here — with
    // ProcessingTimeTimeout, FlatMapGroupsWithStateExec
    // .shouldRunAnotherBatch is always true (wall-clock can always fire
    // new timeouts), so the engine keeps scheduling batches forever and
    // a termination wait never returns. Poll the sink for the expected
    // emissions (bounded by a deadline), then stop the query.
    val q = StatefulOps.track(spark, readings, idleTimeout = Some("1 millisecond"))
      .writeStream.format("memory").queryName("fmgs_timeout")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("update").start()
    try {
      // 4 emissions: A(n=2) from file 1, B(n=1) from file 2, A(n=1
      // restarted) from file 3
      val deadline = System.currentTimeMillis() + 120000
      while (spark.table("fmgs_timeout").count() < 4 &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(200)
    } finally q.stop()
    val rows = spark.table("fmgs_timeout").as[StatefulOps.TrackOutput].collect()
    // A's state was evicted while B's batch ran (idle > 1 ms), so its
    // reappearance restarts the count at 1 instead of continuing to 3
    rows.filter(_.key == "A").map(_.n).sorted shouldBe Array(1L, 2L)
    rows.filter(_.key == "B").map(_.n) shouldBe Array(1L)
  }

  test("watermarked tumbling-window agg (append mode) matches batch buckets") {
    val dir = tmp("window")
    val events = Tables.events(spark, SfDir)
    Topic.publishEvents(events, s"$dir/topic", nFiles = 1)
    val stream = Topic.decodeEvents(Topic.readStream(spark, s"$dir/topic", 10))
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(unix_timestamp($"window.start").as("bucket_ts"),
        $"event_type", $"n", $"total")
    val q = stream.writeStream.format("memory").queryName("win_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("win_out")
    val batch = events
      .groupBy(unix_timestamp(date_trunc("day", $"ts")).as("bucket_ts"),
        $"event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
    // append mode emits only windows closed by the watermark; every
    // emitted window must agree exactly with the batch bucket
    streamed.count() should be > 0L
    streamed.join(batch, Seq("bucket_ts", "event_type"))
      .filter(streamed("n") =!= batch("n")).count() shouldBe 0
  }

  test("watermarked session-window agg (append mode) matches batch sessions") {
    val dir = tmp("sess")
    val events = Tables.events(spark, SfDir)
    Topic.publishEvents(events, s"$dir/topic", nFiles = 1)
    val stream = Topic.decodeEvents(Topic.readStream(spark, s"$dir/topic", 10))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", unix_timestamp($"session_window.start").as("start"),
        $"n")
    val q = stream.writeStream.format("memory").queryName("sess_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sess_out")
    val batch = events
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", unix_timestamp($"session_window.start").as("start"),
        $"n")
    // append emits only sessions closed by the watermark; each emitted
    // session must agree exactly with its batch counterpart
    streamed.count() should be > 0L
    streamed.alias("s")
      .join(batch.alias("b"), Seq("user_id", "start"), "left")
      .filter(col("s.n") =!= col("b.n") || col("b.n").isNull)
      .count() shouldBe 0
  }
}
