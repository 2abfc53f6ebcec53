package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.{Dims, Medallion}
import graft.sinks.KeyedUpsert
import graft.sources.{Tables, Topic}
import graft.streaming.{StreamOps, StreamingMedallion}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The controlled-drift corpus of the st20-st24 actor tests, sliced
    * doc_id mod 3: slices 0 and 1 share one token-length log-bucket (no
    * firing at batch 1, but slice 1 brings NEW vocabulary into the
    * clean pool), slice 2 is long documents whose bucket jump (drift
    * ratio 2.0 >> 0.15) fires the gate at batch 2. */
  private lazy val driftDocs = {
    val long = ("stream " * 40).trim
    (0 until 30).map { i =>
      (i % 3, i % 2) match {
        case (0, 0) => (i.toLong, "the cat sat on mat", "en")
        case (0, _) => (i.toLong, "der hund lief im wald", "de")
        case (1, 0) => (i.toLong, "a dog ran fast today", "en")
        case (1, _) => (i.toLong, "am berg steht ein baum", "de")
        case (_, 0) => (i.toLong, long, "en")
        case _      => (i.toLong, long + " nacht", "de")
      }
    }.toDF("doc_id", "text", "lang")
  }

  test("topic publish/decode round-trips the events table exactly") {
    val dir = tmp("topic")
    val events = Tables.events(spark, SfDir)
    Topic.publishEvents(events, s"$dir/t", nFiles = 2)
    val back = Topic.decodeEvents(Topic.readBatch(spark, s"$dir/t"))
      .select(events.columns.map(col): _*)
    back.count() shouldBe events.count()
    // symmetric difference empty (the reference's own equality check, SU:10-15)
    back.exceptAll(events).count() shouldBe 0
    events.exceptAll(back).count() shouldBe 0
  }

  test("streamed day rollup converges to the batch rollup state") {
    val dir = tmp("stream")
    val events = Tables.events(spark, SfDir)
    Topic.publishEvents(events, s"$dir/topic", nFiles = 3)
    val nBatches = StreamingMedallion.runDayRollup(spark, s"$dir/topic",
      s"$dir/out", s"$dir/ckpt", maxFilesPerTrigger = 1, numBuckets = 4,
      dedupRetention = "3650 days")
    nBatches should be >= 3L // maxFilesPerTrigger honored -> real increments
    val streamed = KeyedUpsert.read(spark, s"$dir/out")
    val batch = Medallion.dayRollup(Medallion.gold(Medallion.silver(events),
      Dims.metricMappings(spark), Dims.deviceHistory(spark)))
    streamed.count() shouldBe batch.count()
    streamed.select(batch.columns.map(col): _*).exceptAll(batch)
      .count() shouldBe 0
  }

  test("ProcessingTime trigger consumes files arriving while the stream runs (ST2)") {
    // the live cadence the reference's continuous notebooks run on —
    // everything else in this suite replays with AvailableNow, so this
    // is the one test pinning the wall-clock trigger contract: data
    // published AFTER the stream starts lands in LATER micro-batches,
    // within the trigger cadence, exactly once
    val dir = tmp("live")
    val events = Tables.events(spark, SfDir).limit(300).cache()
    val slices = (0 to 2).map(i => events.filter($"event_id" % 3 === i).cache())
    slices.foreach(_.count()) // materialize before the clock starts
    Topic.publishEvents(slices(0), s"$dir/topic", nFiles = 1)
    val src = Topic.decodeEvents(
      Topic.readStream(spark, s"$dir/topic", maxFilesPerTrigger = 4))
    val q = src.writeStream.format("memory").queryName("live_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    def awaitRows(n: Long): Unit = {
      val t0 = System.currentTimeMillis()
      while (spark.table("live_out").count() < n) {
        if (System.currentTimeMillis() - t0 > 30000)
          fail(s"timed out waiting for $n rows at the live trigger cadence")
        Thread.sleep(100)
      }
    }
    try {
      awaitRows(slices(0).count())
      // produce WHILE the consumer runs; each publish must be consumed
      // without a restart, in a batch of its own (we drain in between)
      Topic.publishEvents(slices(1), s"$dir/topic", nFiles = 1, append = true)
      awaitRows(slices(0).count() + slices(1).count())
      Topic.publishEvents(slices(2), s"$dir/topic", nFiles = 1, append = true)
      awaitRows(events.count())
      q.stop()
      q.awaitTermination()
      val out = spark.table("live_out")
      out.count() shouldBe events.count() // exactly once, no dup/loss
      out.select("event_id").distinct().count() shouldBe events.count()
      // the three publishes were seen by three DISTINCT micro-batches
      q.recentProgress.count(_.numInputRows > 0) should be >= 3
    } finally if (q.isActive) q.stop()
  }

  test("watermark dedup drops duplicate keys fed across micro-batches") {
    val dir = tmp("dedup")
    val events = Tables.events(spark, SfDir).limit(200).cache()
    // publish the same 200 events twice into the topic
    Topic.publishEvents(events, s"$dir/t1", nFiles = 1)
    val dup = spark.read.schema(Topic.schema).json(s"$dir/t1")
    dup.union(dup).repartition(2).write.json(s"$dir/topic")
    val silver = StreamingMedallion.silverStream(spark, s"$dir/topic",
      maxFilesPerTrigger = 1, dedupRetention = "3650 days")
    val q = silver.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // 200 events x2 metric rows, duplicates fully suppressed
    spark.table("dedup_out").count() shouldBe events.count() * 2
  }

  test("late-data gate admits only rows within the window") {
    val df = Seq(
      ("2024-01-10 00:00:00", "old"),
      ("2024-01-14 23:00:00", "fresh")).toDF("s", "tag")
      .select(to_timestamp($"s").as("ts"), $"tag")
    val now = to_timestamp(lit("2024-01-15 00:00:00"))
    val kept = StreamOps.lateDataGate(df, "ts", maxAgeSec = 48 * 3600, now = now)
    kept.select("tag").as[String].collect().toSeq shouldBe Seq("fresh")
  }

  test("multi-writer fan-in (ST8): branches append to one logical table") {
    val dir = tmp("fanin")
    val events = Tables.events(spark, SfDir)
    Topic.publishEvents(events.filter($"event_id" % 2 === 0), s"$dir/tA", 1)
    Topic.publishEvents(events.filter($"event_id" % 2 =!= 0), s"$dir/tB", 1)
    // two independent streaming queries, own checkpoints, one table
    // root with per-branch subdirs (the multi-writer layout chosen in
    // SURVEY §7.4 — identical read semantics, no write contention)
    val qs = Seq("A" -> "tA", "B" -> "tB").map { case (branch, topic) =>
      Topic.decodeEvents(Topic.readStream(spark, s"$dir/$topic", 10))
        .writeStream.format("parquet")
        .option("path", s"$dir/silver/branch=$branch")
        .option("checkpointLocation", s"$dir/ckpt-$branch")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    qs.foreach(_.awaitTermination())
    val table = spark.read.parquet(s"$dir/silver")
    table.count() shouldBe events.count()
    table.select("branch").distinct().as[String].collect().toSet shouldBe
      Set("A", "B")
  }

  test("stream-stream join joins two topics on key (JN9)") {
    val dir = tmp("ssjoin")
    val left = Seq((1L, "a"), (2L, "b")).toDF("id", "l")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    val right = Seq((1L, "x"), (3L, "y")).toDF("id", "r")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:30")))
    left.select(to_json(struct($"id", $"l")).as("value"),
      unix_micros($"ts").as("timestamp")).write.json(s"$dir/L")
    right.select(to_json(struct($"id", $"r")).as("value"),
      unix_micros($"ts").as("timestamp")).write.json(s"$dir/R")
    val ls = Topic.readStream(spark, s"$dir/L", 10)
      .select(get_json_object($"value", "$.id").cast("long").as("id"),
        get_json_object($"value", "$.l").as("l"),
        timestamp_micros($"timestamp").as("lts"))
      .withWatermark("lts", "1 hour")
    val rs = Topic.readStream(spark, s"$dir/R", 10)
      .select(get_json_object($"value", "$.id").cast("long").as("rid"),
        get_json_object($"value", "$.r").as("r"),
        timestamp_micros($"timestamp").as("rts"))
      .withWatermark("rts", "1 hour")
    val joined = ls.join(rs, $"id" === $"rid" &&
      $"rts".between($"lts" - expr("INTERVAL 1 HOUR"),
        $"lts" + expr("INTERVAL 1 HOUR")))
    val q = joined.writeStream.format("memory").queryName("ss_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table("ss_out").select("id", "l", "r").as[(Long, String, String)]
      .collect().toSeq shouldBe Seq((1L, "a", "x"))
  }

  test("two LIVE streams in separate fair-scheduler pools progress concurrently (ST6)") {
    // the reference names/pools every continuous stream ([P1]:66) so
    // one slow query cannot starve the others; the pools were set on
    // every run path but never exercised with two simultaneously-live
    // queries until now. FAIR mode is on in this suite's session.
    val dir = tmp("pools")
    val events = Tables.events(spark, SfDir).limit(200).cache()
    events.count()
    val poolsSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = js.properties.getProperty("spark.scheduler.pool")
        if (p != null && p.startsWith("graft-pool-")) poolsSeen.add(p)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def startLeg(name: String): org.apache.spark.sql.streaming.StreamingQuery = {
      Topic.publishEvents(events, s"$dir/$name/topic", nFiles = 2)
      // the stream's micro-batch thread inherits the starter thread's
      // local properties — the ST6 isolation idiom under test
      spark.sparkContext.setLocalProperty(
        "spark.scheduler.pool", s"graft-pool-$name")
      val q = Topic.decodeEvents(
          Topic.readStream(spark, s"$dir/$name/topic", maxFilesPerTrigger = 1))
        .writeStream.format("parquet")
        .option("path", s"$dir/$name/out")
        .option("checkpointLocation", s"$dir/$name/ckpt")
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .start()
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      q
    }
    val qa = startLeg("a")
    val qb = startLeg("b") // second query starts while the first is live
    def outRows(name: String): Long =
      try spark.read.parquet(s"$dir/$name/out").count()
      catch { case _: Throwable => 0L }
    try {
      val t0 = System.currentTimeMillis()
      while ((outRows("a") < events.count() || outRows("b") < events.count())
          && System.currentTimeMillis() - t0 < 60000)
        Thread.sleep(200)
      qa.stop(); qb.stop()
      qa.awaitTermination(); qb.awaitTermination()
      outRows("a") shouldBe events.count()
      outRows("b") shouldBe events.count()
      // both pools actually ran jobs — isolation was real, not a no-op
      import scala.jdk.CollectionConverters._
      poolsSeen.asScala.toSet should contain allOf
        ("graft-pool-a", "graft-pool-b")
    } finally {
      if (qa.isActive) qa.stop()
      if (qb.isActive) qb.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("partition purge during a checkpointed stream: retention and resume coexist (K10 x ST10)") {
    // the reference purges datestamp partitions of LIVE tables on a
    // schedule ([PURGE]:6-26) while the streaming writers keep
    // appending; the sink layout must make that safe. The foreachBatch
    // partitioned append writes plain datestamp=... dirs with NO
    // _spark_metadata file-list (a format("parquet") STREAMING sink
    // would pin deleted files in its log and break every later read) —
    // so purge is directory removal the readers never notice, and the
    // checkpoint resume neither re-writes purged data nor loses new.
    val dir = tmp("purge")
    val events = Tables.events(spark, SfDir).limit(300).cache()
    // time-split slices: purge drops OLD datestamps, later arrivals
    // carry strictly NEWER ones (the production shape — a purged
    // partition does not come back)
    val withDs = events.withColumn("datestamp",
      date_format($"ts", "yyyy-MM-dd")).cache()
    val dsSorted = withDs.select("datestamp").distinct()
      .as[String].collect().sorted
    dsSorted.length should be >= 3
    val mid = dsSorted(dsSorted.length / 2)
    val slices = Seq(
      withDs.filter($"datestamp" <= mid).drop("datestamp").cache(),
      withDs.filter($"datestamp" > mid).drop("datestamp").cache())
    slices.foreach(_.count())
    def runBounded(): Unit = {
      val q = Topic.decodeEvents(
          Topic.readStream(spark, s"$dir/topic", maxFilesPerTrigger = 2))
        .withColumn("datestamp", date_format($"ts", "yyyy-MM-dd"))
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").partitionBy("datestamp")
            .parquet(s"$dir/table")
        }
        .start()
      q.awaitTermination()
    }
    Topic.publishEvents(slices(0), s"$dir/topic", nFiles = 2)
    runBounded()
    val cutoff = dsSorted(1) // purge the oldest datestamp partition
    val dropped = graft.sinks.TableSinks.purgePartitionsBelow(
      spark, s"$dir/table", "datestamp", cutoff)
    dropped shouldBe Seq(dsSorted(0))
    // stream keeps going from its checkpoint: only the NEW files play
    Topic.publishEvents(slices(1), s"$dir/topic", nFiles = 2, append = true)
    runBounded()
    val after = spark.read.parquet(s"$dir/table")
    // reads survive the purge (no stale file-list anywhere) and the
    // retained + resumed rows are exactly the unpurged events
    after.select("event_id").as[Long].collect().sorted shouldBe
      withDs.filter($"datestamp" >= cutoff)
        .select("event_id").as[Long].collect().sorted
  }

  test("streaming SCD2 fold is idempotent under batch replay") {
    import graft.streaming.StreamingScd2
    val dir = tmp("scd2fold")
    val keys = Seq("user_id"); val attrs = Seq("event_type")
    def fold(rows: Seq[(Long, String, Long, Long)]): Unit =
      StreamingScd2.foldBatch(
        rows.toDF("user_id", "event_type", "t", "seq"),
        dir, keys, attrs, "t", "seq")
    def dim(): Seq[(Long, String, Long, Option[Long])] =
      KeyedUpsert.read(spark, dir)
        .select("user_id", "event_type", "valid_from", "valid_to")
        .as[(Long, String, Long, Option[Long])]
        .collect().toSeq.sortBy(r => (r._1, r._3))

    val batch1 = Seq((1L, "a", 10L, 1L), (1L, "b", 20L, 2L),
      (2L, "x", 15L, 3L))
    fold(batch1)
    val after1 = dim()
    after1 shouldBe Seq((1L, "a", 10L, Some(20L)), (1L, "b", 20L, None),
      (2L, "x", 15L, None))
    // crash-retry replay of an already-committed batch: byte-identical
    fold(batch1)
    dim() shouldBe after1
    // a later batch still folds (closes 1's open row, 2 untouched)
    fold(Seq((1L, "c", 30L, 4L)))
    val after2 = dim()
    after2 shouldBe Seq((1L, "a", 10L, Some(20L)), (1L, "b", 20L, Some(30L)),
      (1L, "c", 30L, None), (2L, "x", 15L, None))
    // and replaying THAT batch is also a no-op
    fold(Seq((1L, "c", 30L, 4L)))
    dim() shouldBe after2
    // a CONFLICTING out-of-order change (covering stored interval has
    // different attrs) must fail LOUDLY, not silently emit an interval
    // overlapping closed history — the ordering contract is enforced
    val ex = intercept[IllegalArgumentException] {
      fold(Seq((1L, "z", 25L, 9L))) // [20,30) holds "b", not "z"
    }
    ex.getMessage should include ("time order")
    dim() shouldBe after2 // the failed batch wrote nothing
    // ...as must one predating the key's whole history (nothing covers it)
    val ex2 = intercept[IllegalArgumentException] {
      fold(Seq((2L, "y", 5L, 10L))) // key 2's history starts at 15
    }
    ex2.getMessage should include ("time order")
    dim() shouldBe after2
    // but a late REPLAY (covering interval carries the same attrs)
    // passes the guard and stays a no-op — crash-retry is the normal
    // path and must never be rejected
    fold(Seq((1L, "a", 10L, 1L), (1L, "b", 20L, 2L)))
    dim() shouldBe after2
    // a PARTIAL replay (a strict subset of an old batch) must also be
    // a no-op: folding {a@10} alone with the open row would rebuild
    // the open era as [10,30)a — silently overlapping the closed
    // [20,30)b. Verified replays are excluded from the fold entirely.
    fold(Seq((1L, "a", 10L, 1L)))
    dim() shouldBe after2
    // a MIXED batch (one replayed change + one genuinely new change)
    // folds exactly the new suffix: the replay is dropped, the new
    // change closes the open row — closed history untouched
    fold(Seq((1L, "b", 20L, 2L), (1L, "d", 40L, 11L)))
    dim() shouldBe Seq((1L, "a", 10L, Some(20L)), (1L, "b", 20L, Some(30L)),
      (1L, "c", 30L, Some(40L)), (1L, "d", 40L, None), (2L, "x", 15L, None))
  }

  test("st15 crash between dim MERGE and checkpoint commit converges") {
    // the partial-commit boundary the replay contract exists for: the
    // last batch's MERGE is fully committed to the dimension (manifest
    // renamed) but the STREAMING checkpoint never recorded the batch —
    // on restart the source re-delivers it and the fold must converge
    // to the byte-identical dimension instead of corrupting history
    import graft.streaming.StreamingScd2
    val root = tmp("scd2crash")
    def publishSlice(rows: Seq[(Long, Long, String, Long)],
        append: Boolean, mtime: Long): Unit = {
      val ev = rows.toDF("event_id", "user_id", "event_type", "t")
        .select(col("event_id"), col("t").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"),
          lit(1.0).as("value"), lit("{}").as("props"))
      val dir = new java.io.File(s"$root/topic")
      val before = Option(dir.listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
      Topic.publishEvents(ev, s"$root/topic", nFiles = 1, append = append)
      dir.listFiles().filter(f => !before.contains(f.getName))
        .foreach(_.setLastModified(mtime))
    }
    // two ascending time slices -> two micro-batches at 1 file/trigger
    publishSlice(Seq((1L, 1L, "a", 10L), (2L, 1L, "b", 20L),
      (3L, 2L, "x", 15L)), append = false, mtime = 1000000L)
    publishSlice(Seq((4L, 1L, "c", 30L), (5L, 2L, "y", 40L)),
      append = true, mtime = 2000000L)
    def dimRows() = KeyedUpsert.read(spark, s"$root/dim")
      .select("user_id", "event_type", "valid_from", "valid_to")
      .as[(Long, String, Long, Option[Long])]
      .collect().toSeq.sortBy(r => (r._1, r._3))
    StreamingScd2.runEventsDim(spark, s"$root/topic", s"$root/dim",
      s"$root/ckpt")
    val expect = dimRows()
    expect.map(r => (r._1, r._2)) should contain allOf
      ((1L, "c"), (2L, "y")) // both batches landed
    // crash simulation: drop the newest checkpoint commit marker — the
    // dim keeps the batch, the stream forgets it
    val commits = new java.io.File(s"$root/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    commits.length should be >= 2
    commits.last.delete() shouldBe true
    // the local ChecksumFs keeps a hidden .N.crc sidecar; a crashed
    // process would have written neither — remove it too or the
    // restart's commit rename trips over the orphan
    new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc").delete()
    // restart: the source re-delivers the half-committed batch; the
    // whole-batch replay folds to the identical dimension
    StreamingScd2.runEventsDim(spark, s"$root/topic", s"$root/dim",
      s"$root/ckpt")
    dimRows() shouldBe expect
  }

  test("st17 drift monitor: stream report equals the one-shot batch " +
      "reference; per-batch store replay is idempotent") {
    import graft.streaming.StreamDrift
    val docs = graft.sources.Tables.documents(spark, SfDir)
    val root = tmp("st17spec")
    val streamed = StreamDrift.run(spark, docs, root, nSlices = 4)
      .collect().toSeq
    val ref = StreamDrift.batchReference(docs, nSlices = 4)
      .collect().toSeq
    streamed shouldBe ref
    // crash/replay contract: rewriting one batch's store overwrites
    // identical content, so the report is unchanged
    StreamDrift.processBatch(
      docs.filter(pmod($"doc_id", lit(4L)) === 2L), 2L, root)
    StreamDrift.report(spark, root).collect().toSeq shouldBe ref
  }

  test("st18 length-drift axis: stream == batch reference, replay " +
      "idempotent, and the bit-length bucket is exact at powers of 2") {
    import graft.streaming.StreamDrift
    // floor(log2(n)) via length(bin(n)) - 1: exact integer arithmetic
    // exactly where an IEEE log2's floor could flip (n = 2^k)
    Seq(1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L).toDF("n")
      .select(((org.apache.spark.sql.functions.length(bin($"n")) - 1)
        .cast("long")).as("b"))
      .collect().map(_.getLong(0)).toSeq shouldBe
      Seq(0L, 1L, 1L, 2L, 2L, 3L, 9L, 10L)
    val docs = graft.sources.Tables.documents(spark, SfDir)
    val root = tmp("st18spec")
    val axis = StreamDrift.tokenLogBucket
    val streamed = StreamDrift.run(spark, docs, root, nSlices = 4,
      bucket = axis).collect().toSeq
    val ref = StreamDrift.batchReference(docs, nSlices = 4,
      bucket = axis).collect().toSeq
    streamed shouldBe ref
    // replay: rewriting one batch's store is overwrite-idempotent
    StreamDrift.processBatch(
      docs.filter(pmod($"doc_id", lit(4L)) === 1L), 1L, root, axis)
    StreamDrift.report(spark, root).collect().toSeq shouldBe ref
    // NULL-text docs land in the SENTINEL cell, not an unjoinable
    // NULL: batch1 = {NULL-text, "a"} has cells {-999:1, 0:1} vs
    // prior {1:2} -> drift_num = |1*2-0| + |1*2-0| + |0-2*2| = 8
    // (a silently unjoinable NULL cell would read 6)
    val nd = Seq((0L, Option("a b c")), (1L, None),
      (2L, Option("a b")), (3L, Option("a"))).toDF("doc_id", "text")
    val drifts = StreamDrift.batchReference(nd, nSlices = 2,
        bucket = axis)
      .collect().map(r0 => r0.getLong(0) -> r0.getLong(3)).toMap
    drifts(1L) shouldBe 8L
  }

  test("st19 language-drift axis: stream == batch reference, replay " +
      "idempotent, NULL text hits the sentinel not the head profile") {
    import graft.streaming.StreamDrift
    val profiles = graft.queries.TextQueries.Profiles
    val axis = StreamDrift.profileBucket(profiles)
    // the bucket is the argmax profile INDEX with t03's tie rule —
    // and a NULL text must map to NULL (profileId alone would coerce
    // it to the head profile, hiding an empty-payload spike)
    val probe = Seq(
      (0L, Option("table scan merge")), // storage markers -> 0
      (1L, Option("join filter sort")), // query markers   -> 1
      (2L, Option("stream key value")), // stream markers  -> 2
      (3L, Option("nothing matches")),  // tie at 0 hits   -> head = 0
      (4L, None)).toDF("doc_id", "text")
    probe.select(axis.as("b")).collect().map(r =>
      Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq shouldBe
      Seq(Some(0L), Some(1L), Some(2L), Some(0L), None)
    val docs = graft.sources.Tables.documents(spark, SfDir)
    val root = tmp("st19spec")
    val streamed = StreamDrift.run(spark, docs, root, nSlices = 4,
      bucket = axis).collect().toSeq
    val ref = StreamDrift.batchReference(docs, nSlices = 4,
      bucket = axis).collect().toSeq
    streamed shouldBe ref
    StreamDrift.processBatch(
      docs.filter(pmod($"doc_id", lit(4L)) === 3L), 3L, root, axis)
    StreamDrift.report(spark, root).collect().toSeq shouldBe ref
  }

  test("st20 drift->refit: stream == batch reference, the firing batch " +
      "refits on the accumulated clean pool, replay is idempotent") {
    import graft.streaming.StreamRefit
    val docs = driftDocs // nSlices = 3: fires at batch 2 alone
    val root = tmp("st20spec")
    val streamed = StreamRefit.run(spark, docs, root, nSlices = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val ref = StreamRefit.batchReference(docs, nSlices = 3)
    streamed shouldBe ref
    // exactly two model versions: the batch-0 bootstrap and the
    // batch-2 firing; batch 1 stayed clean
    val byVersion = streamed.groupBy(_._1)
    byVersion.keySet shouldBe Set(1L, 2L)
    byVersion(1L).head._2 shouldBe 0L // bootstrap
    byVersion(2L).head._2 shouldBe 2L // fired at batch 2
    // the refit actually MOVED: version 2 trained on {0,1} whose new
    // vocabulary shifts at least one bucket weight
    val w1 = byVersion(1L).map(t => t._3 -> t._4).toMap
    val w2 = byVersion(2L).map(t => t._3 -> t._4).toMap
    w2 should not equal w1
    // whole-batch REPLAY (crash between MERGE and checkpoint): both a
    // firing and a clean batch recompute identical decisions and
    // re-MERGE identical rows
    def weightRows() = StreamRefit.weights(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    StreamRefit.processBatch(
      docs.filter(pmod($"doc_id", lit(3L)) === 2L), 2L, root)
    weightRows() shouldBe ref
    StreamRefit.processBatch(
      docs.filter(pmod($"doc_id", lit(3L)) === 1L), 1L, root)
    weightRows() shouldBe ref
  }

  test("st21 drift->quarantine: stream == batch reference, exactly the " +
      "firing batch's docs are quarantined, replay never flips a route") {
    import graft.streaming.{DriftGate, StreamQuarantine}
    // st20's controlled-drift corpus: slice 2's long documents jump
    // the token-length log-bucket -> drift fires exactly at batch 2
    val docs = driftDocs
    val root = tmp("st21spec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2))).toSeq
    val streamed = rows(
      StreamQuarantine.run(spark, docs, root, nSlices = 3))
    streamed shouldBe rows(
      StreamQuarantine.batchReference(docs, nSlices = 3))
    // exactly batch 2 is quarantined; every doc is routed exactly once
    streamed.size shouldBe 30
    streamed.filter(_._3 == "quarantine").map(_._2).distinct shouldBe
      Seq(2L)
    streamed.count(_._3 == "quarantine") shouldBe 10
    // whole-batch REPLAY (firing and clean): decisions recompute
    // identically, the overwrite lands in the SAME route directory
    StreamQuarantine.processBatch(
      docs.filter(pmod($"doc_id", lit(3L)) === 2L), 2L, root)
    rows(StreamQuarantine.routed(spark, root)) shouldBe streamed
    StreamQuarantine.processBatch(
      docs.filter(pmod($"doc_id", lit(3L)) === 1L), 1L, root)
    rows(StreamQuarantine.routed(spark, root)) shouldBe streamed
    // the gate's one-shot fired set agrees with where the docs
    // physically landed
    streamed.filter(_._3 == "quarantine").map(_._2).toSet shouldBe
      DriftGate.firedBatches(docs, nSlices = 3)
    // threshold LINEAGE: a restart against the same root with a
    // different threshold would re-decide old batches and leave a
    // batch under BOTH route directories — refused loudly instead
    val e = intercept[IllegalArgumentException] {
      StreamQuarantine.processBatch(
        docs.filter(pmod($"doc_id", lit(3L)) === 1L), 1L, root,
        thresholdPpm = 999999L)
    }
    e.getMessage should include("thresholdPpm")
    // a MARKERLESS root that already carries hist/ batches (predates
    // the guard, or lost its marker) must fail loudly instead of being
    // silently blessed with whatever threshold the restart passes —
    // the one interleaving case a first-sight marker write can't catch
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "threshold.ppm"))
    val e2 = intercept[IllegalArgumentException] {
      StreamQuarantine.processBatch(
        docs.filter(pmod($"doc_id", lit(3L)) === 1L), 1L, root)
    }
    e2.getMessage should include("no threshold.ppm marker")
  }

  test("st23 promotion gate: stream == batch reference, replay " +
      "idempotent; the registered sf0.01 run pins the tie-accept rule") {
    import graft.streaming.StreamPromote
    // st20's controlled-drift corpus: batch 1 brings new vocabulary
    // (clean), batch 2's long docs fire -> one bootstrap candidate +
    // one evaluated challenger
    val docs = driftDocs
    val root = tmp("st23spec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        r.getString(7))).toSeq
    val streamed = rows(StreamPromote.run(spark, docs, root, nSlices = 3))
    streamed shouldBe StreamPromote.batchReference(docs, nSlices = 3)
    // bootstrap is unconditional: batch 0's candidate is version 1
    // with the no-champion sentinel
    val boot = streamed.filter(_._1 == 0L)
    boot should have size 64
    boot.head._4 shouldBe -1L     // champ_ok sentinel
    boot.head._7 shouldBe Some(1L)
    boot.head._8 shouldBe "published"
    // batch 2's candidate was EVALUATED against the champion: real
    // integer counts on the shared val split, decision = the recorded
    // comparison (accept on ties)
    val cand2 = streamed.filter(_._1 == 2L)
    cand2 should have size 64
    val (champOk, challOk) = (cand2.head._4, cand2.head._5)
    champOk should be >= 0L
    if (challOk >= champOk) {
      cand2.head._8 shouldBe "published"
      cand2.head._7 shouldBe Some(2L)
    } else {
      cand2.head._8 shouldBe "rejected"
      cand2.head._7 shouldBe None
    }
    // whole-batch replay (firing and clean): identical candidates
    StreamPromote.processBatch(
      docs.filter(pmod($"doc_id", lit(3L)) === 2L), 2L, root)
    rows(StreamPromote.candidates(spark, root)) shouldBe streamed
    StreamPromote.processBatch(
      docs.filter(pmod($"doc_id", lit(3L)) === 1L), 1L, root)
    rows(StreamPromote.candidates(spark, root)) shouldBe streamed
  }

  test("st24 lineage: stream == batch reference; serving version is " +
      "the one published strictly before each batch; replay idempotent") {
    import graft.streaming.StreamLineage
    // st20's controlled-drift corpus: batch 2 fires -> quarantined
    // AND evaluated; versions serve from the NEXT batch on
    val docs = driftDocs
    val root = tmp("st24spec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq
    val streamed = rows(StreamLineage.run(spark, docs, root, nSlices = 3))
    streamed shouldBe rows(StreamLineage.batchReference(docs, nSlices = 3))
    streamed.size shouldBe 30
    // route: exactly the firing batch (2) is quarantined
    streamed.filter(_._3 == "quarantine").map(_._2).distinct shouldBe
      Seq(2L)
    // serving semantics: batch 0 pre-bootstrap (0); batches 1 and 2
    // under version 1 (the batch-2 candidate publishes AFTER batch 2's
    // ingest — never retroactively); there is no batch 3 here
    streamed.filter(_._2 == 0L).map(_._4).distinct shouldBe Seq(0L)
    streamed.filter(_._2 == 1L).map(_._4).distinct shouldBe Seq(1L)
    streamed.filter(_._2 == 2L).map(_._4).distinct shouldBe Seq(1L)
    // whole-batch replay through the COMPOSED actor: identical lineage
    StreamLineage.processBatch(
      docs.filter(pmod($"doc_id", lit(3L)) === 2L), 2L, root)
    rows(StreamLineage.lineage(spark, root)) shouldBe streamed
  }

  test("st25 quarantine-protected corpus build: the manifest derives " +
      "from clean batches only, the fired batch never touches the " +
      "build stores, replay idempotent, invariant per slicing") {
    import graft.streaming.{StreamingCorpusBuild, StreamingCuratedCorpus}
    // controlled-drift corpus where the CLEAN batches carry the gated
    // corpus (so the manifest is non-trivial) and the firing batch a
    // shifted length profile: slices 0/1 = 40 mutually-distinct words
    // per doc (quality-gated IN, one shared length bucket -> no drift
    // between them), slice 2 = ~300-word documents (length-bucket
    // jump -> fires). Docs 3/6 are a near-dup pair in slice 0 (pins
    // the CC canonical keep); doc 0 (0 % 97) is the decontamination
    // eval side, with its own vocabulary so it contaminates nothing.
    def wordsOf(prefix: String, n: Int = 40) =
      (1 to n).map(w => s"${prefix}x$w").mkString(" ")
    val long = ("stream data " * 150).trim
    val docs = (0 until 30).map { i =>
      if (i % 3 == 2) (i.toLong, s"$long tail$i", "en")
      else if (i == 0) (0L, wordsOf("e0"), "en")
      else if (i == 6) (6L, wordsOf("w3", 39) + " w6x40", "en")
      else (i.toLong, wordsOf(s"w$i"), "en")
    }.toDF("doc_id", "text", "lang")
    // the corpus fires exactly at batch 2 under the mod-3 slicing —
    // the assumption every assertion below builds on, made explicit
    graft.streaming.DriftGate.firedBatches(docs, nSlices = 3) shouldBe
      Set(2L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq)
    val root = tmp("st25spec")
    val streamed = rows(
      StreamingCuratedCorpus.run(spark, docs, root, nSlices = 3))
    streamed should not be empty
    // == the one-shot st16 topology over NON-FIRED batches only
    streamed shouldBe rows(
      StreamingCuratedCorpus.batchReference(docs, nSlices = 3))
    // and the PROTECTION is real: the unprotected build (st16 over
    // every arrival) publishes a different manifest on this corpus
    streamed should not be rows(StreamingCorpusBuild.batchReference(docs))
    // the fired batch never touched the build stores: no meta/ dir
    // (and by the same skip, no index/trainsh/shared contribution) …
    java.nio.file.Files.exists(java.nio.file.Paths.get(
      root, "meta", "batch=2")) shouldBe false
    java.nio.file.Files.exists(java.nio.file.Paths.get(
      root, "meta", "batch=1")) shouldBe true
    java.nio.file.Files.exists(java.nio.file.Paths.get(
      root, "index", "batch=2")) shouldBe false
    // … while the quarantine audit trail has exactly its documents
    graft.streaming.StreamQuarantine.routed(spark, root)
      .filter($"route" === "quarantine").select("doc_id")
      .collect().map(_.getLong(0)).sorted shouldBe
      (0 until 30).filter(_ % 3 == 2).map(_.toLong)
    // whole-batch replay, fired AND clean: decisions recompute
    // identically — the fired replay still skips the build, the clean
    // replay overwrites identical store content
    StreamingCuratedCorpus.processBatch(
      docs.filter(pmod($"doc_id", lit(3L)) === 2L), 2L, root)
    java.nio.file.Files.exists(java.nio.file.Paths.get(
      root, "meta", "batch=2")) shouldBe false
    rows(StreamingCorpusBuild.publish(spark, root)) shouldBe streamed
    StreamingCuratedCorpus.processBatch(
      docs.filter(pmod($"doc_id", lit(3L)) === 1L), 1L, root)
    rows(StreamingCorpusBuild.publish(spark, root)) shouldBe streamed
    // a DIFFERENT slicing (mod 5 mixes the length profiles, so no
    // batch fires and the composition degrades to st16 + routing):
    // stream == that slicing's own non-fired reference
    val root5 = tmp("st25spec5")
    rows(StreamingCuratedCorpus.run(spark, docs, root5, nSlices = 5)) shouldBe
      rows(StreamingCuratedCorpus.batchReference(docs, nSlices = 5))
  }

  test("streaming publish derives the scale-safe shard size by " +
      "default — the pinned 64 lives behind the explicit argument " +
      "the oracled st16/st25 entries pass") {
    import graft.streaming.StreamingCorpusBuild
    // 320 mutually-distinct-vocabulary docs: all quality-gated, no
    // near-dup pairs, ids 0/97/194/291 the eval side — big enough
    // that the derived size departs from 64 (the assertion below
    // makes that premise explicit rather than assumed)
    def wordsOf(i: Int) = (1 to 40).map(w => s"d${i}x$w").mkString(" ")
    val docs = (0 until 320).map(i => (i.toLong, wordsOf(i), "en"))
      .toDF("doc_id", "text", "lang")
    val derived = StreamingCorpusBuild.batchReference(docs).collect()
    val pinned =
      StreamingCorpusBuild.batchReference(docs, Some(64)).collect()
    val nTrain = derived.map(_.getAs[Long]("n_docs")).sum
    pinned.map(_.getAs[Long]("n_docs")).sum shouldBe nTrain
    val s = graft.queries.TextQueries.derivedShardSize(nTrain)
    s should be > 64
    derived.dropRight(1)
      .foreach(_.getAs[Long]("n_docs") shouldBe s.toLong)
    pinned.dropRight(1).foreach(_.getAs[Long]("n_docs") shouldBe 64L)
    derived.map(_.toSeq) should not be pinned.map(_.toSeq)
  }

  test("a torn docs/ directory (no hist/ twin) never joins a training " +
      "pool — the clean-pool complement intersects the dec-known set " +
      "in BOTH the refit and the promotion gate") {
    import graft.streaming.{DriftGate, StreamPromote, StreamRefit}
    val docs = driftDocs
    def slice(k: Long) = docs.filter(pmod($"doc_id", lit(3L)) === k)
    // poison: slice-0 texts with LABELS FLIPPED — if a torn directory
    // leaked into the clean pool the perceptron gradient cancels
    // against the real batch-0 docs and the weights move
    val poison = slice(0L).select(($"doc_id" + 1000L).as("doc_id"),
      $"text", when($"lang" === "en", "de").otherwise("en").as("lang"))
    def refitWeights(root: String) = StreamRefit.weights(spark, root)
      .collect().map(_.toSeq).toSeq
    // reference: batches 0 and 2 only (2 fires -> refit on {0})
    val ref = tmp("torn-ref")
    StreamRefit.processBatch(slice(0L), 0L, ref)
    StreamRefit.processBatch(slice(2L), 2L, ref)
    val refW = refitWeights(ref)
    // the poison is genuinely weight-changing: processed as a CLEAN
    // batch 1 it lands in the firing refit's pool and the weights move
    val leaked = tmp("torn-leaked")
    StreamRefit.processBatch(slice(0L), 0L, leaked)
    StreamRefit.processBatch(poison, 1L, leaked)
    StreamRefit.processBatch(slice(2L), 2L, leaked)
    refitWeights(leaked) should not be refW
    // TORN: docs/batch=1 exists, hist/batch=1 never committed — the
    // refit must exclude it and reproduce the reference weights
    val torn = tmp("torn-refit")
    StreamRefit.processBatch(slice(0L), 0L, torn)
    poison.write.parquet(s"$torn/docs/batch=1")
    DriftGate.tornBatches(spark, torn, 2L) shouldBe Seq(1L)
    StreamRefit.processBatch(slice(2L), 2L, torn)
    refitWeights(torn) shouldBe refW
    // same contract through the promotion gate
    def cands(root: String) = StreamPromote.candidates(spark, root)
      .collect().map(_.toSeq).toSeq
    val refP = tmp("torn-ref-promote")
    StreamPromote.processBatch(slice(0L), 0L, refP)
    StreamPromote.processBatch(slice(2L), 2L, refP)
    val tornP = tmp("torn-promote")
    StreamPromote.processBatch(slice(0L), 0L, tornP)
    poison.write.parquet(s"$tornP/docs/batch=1")
    StreamPromote.processBatch(slice(2L), 2L, tornP)
    cands(tornP) shouldBe cands(refP)
  }

  test("st23 reject path: a challenger that scores below the champion " +
      "on the val split is recorded rejected and never versioned") {
    import graft.streaming.StreamPromote
    import graft.text.TextFns
    // deterministic construction: every doc is the single word 'foo',
    // so all models live on one feature bucket. Batch 0 = en docs ->
    // the bootstrap champion learns w[foo] > 0 (perfect on en val).
    // Batch 1 = de docs with EXACTLY as many train-split members as
    // batch 0, same text: the challenger's perceptron gradient cancels
    // (sum y*x = n_en_train - n_de_train = 0 each iteration), so the
    // challenger is the zero vector -> chall_ok = 0 < champ_ok.
    val pool = (0L until 200L).toDF("doc_id")
      .select($"doc_id", TextFns.splitAssign($"doc_id").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val trainIds = pool.collect { case (i, "train") => i }
    val valIds = pool.collect { case (i, "val") => i }
    val b0 = (trainIds.take(4) ++ valIds.take(2))
      .map(i => (i, "foo", "en")).toSeq
    val b1 = (trainIds.slice(4, 8) ++ valIds.slice(2, 3))
      .map(i => (i, "foo", "de")).toSeq
    val long = ("stream " * 40).trim
    val b2 = (900L until 906L).map(i => (i, long, "en"))
    def df(s: Seq[(Long, String, String)]) =
      s.toDF("doc_id", "text", "lang")
    val root = tmp("st23reject")
    StreamPromote.processBatch(df(b0), 0L, root)
    StreamPromote.processBatch(df(b1), 1L, root)
    StreamPromote.processBatch(df(b2), 2L, root) // length jump: fires
    val cand = StreamPromote.candidates(spark, root)
      .select("fired_batch", "champ_ok", "chall_ok", "n_val", "version",
        "status")
      .distinct().orderBy("fired_batch")
      .collect()
    cand.map(_.getLong(0)).toSeq shouldBe Seq(0L, 2L)
    val r2 = cand(1)
    r2.getLong(1) shouldBe 2L // champion: both en val docs right
    r2.getLong(2) shouldBe 0L // zero challenger scores nothing
    r2.getLong(3) shouldBe 3L // 2 en + 1 de val docs
    r2.isNullAt(4) shouldBe true // never versioned
    r2.getString(5) shouldBe "rejected"
    // replay of the rejected candidate's batch is idempotent
    StreamPromote.processBatch(df(b2), 2L, root)
    StreamPromote.candidates(spark, root)
      .filter($"status" === "rejected").count() shouldBe 64L
    // the champion keeps serving: exactly one published version
    StreamPromote.candidates(spark, root)
      .filter($"status" === "published")
      .select("version").distinct().collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(1L)
  }

  test("st23 pub/ checkpoint: every stored pointer equals the fold " +
      "over cand/, and a root missing the trail self-heals identically") {
    import graft.streaming.StreamPromote
    import scala.jdk.CollectionConverters._
    // the st20 controlled-drift corpus: candidates at batches 0 and 2
    val docs = driftDocs
    val root = tmp("st23pub")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        r.getString(7))).toSeq
    val streamed = rows(StreamPromote.run(spark, docs, root, nSlices = 3))
    // the fold over cand/: (fired batch, published?) in batch order
    val outcomes = streamed
      .map(t => (t._1, t._8 == "published")).distinct.sortBy(_._1)
    val pubDir = java.nio.file.Paths.get(root, "pub")
    val entries = java.nio.file.Files.list(pubDir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("batch-") =>
        n.stripPrefix("batch-").toLong }
      .toSeq.sorted
    // one pointer per candidate batch, each equal to the fold ≤ b
    entries shouldBe outcomes.map(_._1)
    for (b <- entries) {
      val pub = new String(java.nio.file.Files.readAllBytes(
        pubDir.resolve(s"batch-$b")), "UTF-8").trim.split(',')
      val published = outcomes.filter(o => o._1 <= b && o._2).map(_._1)
      pub(0).toLong shouldBe published.length.toLong
      pub(1).toLong shouldBe published.lastOption.getOrElse(-1L)
    }
    // the SERVING MAP derived from the pub/ trail alone equals the
    // fold over the candidate store — st24's lineage reads it this way
    val foldMap = rows(StreamPromote.candidates(spark, root))
      .collect { case t if t._8 == "published" => (t._1, t._7.get) }
      .distinct.sortBy(_._1)
    StreamPromote.publishedVersions(spark, root) shouldBe foldMap
    // SELF-HEAL: wipe the pub/ trail (a pre-checkpoint root) — the
    // serving map self-heals from cand/, and replaying the firing
    // batch rebuilds identical candidate rows and pointer
    java.nio.file.Files.list(pubDir).iterator().asScala.toSeq
      .foreach(java.nio.file.Files.delete)
    java.nio.file.Files.delete(pubDir)
    StreamPromote.publishedVersions(spark, root) shouldBe foldMap
    StreamPromote.processBatch(
      docs.filter(pmod($"doc_id", lit(3L)) === 2L), 2L, root)
    rows(StreamPromote.candidates(spark, root)) shouldBe streamed
    val healed = new String(java.nio.file.Files.readAllBytes(
      pubDir.resolve("batch-2")), "UTF-8").trim.split(',')
    val pubAll = outcomes.filter(_._2).map(_._1)
    healed(0).toLong shouldBe pubAll.length.toLong
    healed(1).toLong shouldBe pubAll.lastOption.getOrElse(-1L)
    // the trail now has a HOLE (only batch-2 rebuilt — batch-0's entry
    // is still gone): the serving-map enumeration must detect the
    // incomplete trail and self-heal, never silently drop batch 0's
    // publication from the map
    StreamPromote.publishedVersions(spark, root) shouldBe foldMap
  }

  test("promotion-state readers on a synthetic 5-candidate trail: " +
      "rejects, non-contiguous ids, and a mid-trail hole") {
    import graft.streaming.{Store, StreamPromote}
    // outcomes exactly as gateBatch stores them: cand/batch=k rows +
    // the cumulative pub/batch-k pointer. publish@0 (v1), reject@2,
    // publish@5 (v2), reject@7, publish@9 (v3) — non-contiguous ids.
    val root = tmp("st23synth")
    val fs = Store.hfs(spark, root)
    val outcomes = Seq( // (batch, published?, versionIfPublished)
      (0L, true, Some(1L)), (2L, false, None), (5L, true, Some(2L)),
      (7L, false, None), (9L, true, Some(3L)))
    var count = 0L; var latest = -1L
    for ((b, pub, v) <- outcomes) {
      (0 until 4).map { bk =>
        (bk.toLong, bk.toLong * 10 + b, if (pub) -1L else 0L, 1L, 1L,
          v, if (pub) "published" else "rejected")
      }.toDF("bucket", "weight", "champ_ok", "chall_ok", "n_val",
          "version", "status")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/cand/batch=$b")
      if (pub) { count += 1; latest = b }
      Store.publishTrail(fs,
        new org.apache.hadoop.fs.Path(s"$root/pub/batch-$b"),
        s"$count,$latest")
    }
    val servingMap = Seq(0L -> 1L, 5L -> 2L, 9L -> 3L)
    StreamPromote.publishedVersions(spark, root) shouldBe servingMap
    // pubStateBefore = (published count, latest published) STRICTLY
    // before b, across reject entries and id gaps
    StreamPromote.pubStateBefore(spark, root, 0L) shouldBe ((0L, -1L))
    StreamPromote.pubStateBefore(spark, root, 1L) shouldBe ((1L, 0L))
    StreamPromote.pubStateBefore(spark, root, 5L) shouldBe ((1L, 0L))
    StreamPromote.pubStateBefore(spark, root, 6L) shouldBe ((2L, 5L))
    StreamPromote.pubStateBefore(spark, root, 9L) shouldBe ((2L, 5L))
    StreamPromote.pubStateBefore(spark, root, 10L) shouldBe ((3L, 9L))
    // punch a MID-TRAIL hole (batch-5's pointer lost): enumeration
    // must self-heal to the identical map, and a pubStateBefore whose
    // max surviving entry trails cand/ must fold instead of trusting
    // the stale pointer
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "pub", "batch-5"))
    StreamPromote.publishedVersions(spark, root) shouldBe servingMap
    StreamPromote.pubStateBefore(spark, root, 6L) shouldBe ((2L, 5L))
    // entries AFTER the hole still carry correct cumulative state —
    // the healthy single-pointer read stays valid past a hole
    StreamPromote.pubStateBefore(spark, root, 10L) shouldBe ((3L, 9L))
  }

  test("st22 streaming HLL: stream == direct per-prefix reference, the " +
      "final merge equals the whole-corpus estimate, replay idempotent") {
    import graft.streaming.StreamSketch
    val ev = graft.sources.Tables.events(spark, SfDir)
    val root = tmp("st22spec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val streamed = rows(StreamSketch.run(spark, ev, root, nSlices = 4))
    // merge-of-stored-partials == direct estimate per prefix (the
    // associativity of bucket-wise max, checked end to end)
    streamed shouldBe rows(StreamSketch.batchReference(ev, nSlices = 4))
    // the last prefix is the whole corpus: the streaming merge must
    // equal the one-shot q44-style estimate exactly
    val whole = graft.functions.Hll.distinctEstimate(
        ev, Seq("event_type"), $"user_id")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val last = streamed.filter(_._1 == 3L).map(t => (t._2, t._3, t._4))
    last shouldBe whole
    // nb (buckets hit) is monotone along the prefix chain per type
    streamed.groupBy(_._2).values.foreach { g =>
      val nbs = g.sortBy(_._1).map(_._3)
      nbs shouldBe nbs.sorted
    }
    // whole-batch replay: re-sketching an already-stored batch
    // overwrites identical rows, the report is unchanged
    StreamSketch.processBatch(
      ev.filter(pmod($"event_id", lit(4L)) === 1L), 1L, root)
    rows(StreamSketch.report(spark, root)) shouldBe streamed
  }

  test("st22 empty arrival slice: the checkpoint carries forward, so " +
      "the empty batch still gets its as-of row (the r14 ADVICE edge)") {
    import graft.streaming.StreamSketch
    // slice 2 of 4 is EMPTY — under the old observed-partials
    // derivation the batch-2 as-of row silently vanished Spark-side
    // while the oracle's explicit prefix enumeration kept it
    val ev = (0 until 40).filter(_ % 4 != 2)
      .map(i => (i.toLong, s"type${i % 3}", (i % 7).toLong))
      .toDF("event_id", "event_type", "user_id")
    val root = tmp("st22empty")
    for (b <- 0L until 4L)
      StreamSketch.processBatch(
        ev.filter(pmod($"event_id", lit(4L)) === b), b, root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val rep = rows(StreamSketch.report(spark, root))
    rep shouldBe rows(StreamSketch.batchReference(ev, nSlices = 4))
    // batch 2's rows exist and equal batch 1's (nothing arrived)
    val by = rep.groupBy(_._1)
    by(2L).map(t => (t._2, t._3, t._4)) shouldBe
      by(1L).map(t => (t._2, t._3, t._4))
  }
}
