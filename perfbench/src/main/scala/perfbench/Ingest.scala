package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{Dims, Medallion}
import graft.sinks.KeyedUpsert
import graft.sources.Topic
import graft.streaming.{StreamOps, StreamingMedallion}

/** The ingest workload runs the day-rollup chain of
  * `StreamingMedallion.runDayRollup` — silverStream -> goldStream ->
  * Medallion.dayRollup -> foreachBatch(KeyedUpsert.upsert) — composed
  * here so the trigger can be chosen and the sink call timed. */
object Ingest {
  val NumBuckets = 8          // runDayRollup's default
  val Retention = "48 hours"  // runDayRollup's default
  val PrepReps = 3
  /** True during the measured window; sink samples outside it are not kept. */
  @volatile private var measuring = false

  /** One run of the chain. `onCommit(batchId, commitEpochMs)` fires after
    * each micro-batch's upsert returns. */
  def startChain(ctx: Ctx, topicDir: String, outDir: String, ckpt: String,
      trigger: Trigger, maxFiles: Int,
      onCommit: (Long, Double) => Unit = (_, _) => ()): StreamingQuery = {
    val spark = ctx.spark
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-rollup")
    val gold = StreamingMedallion.goldStream(spark,
      StreamingMedallion.silverStream(spark, topicDir, maxFiles, Retention))
    Medallion.dayRollup(gold).writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val timed = measuring
        val s = batch.sparkSession
        val op = Tracer.batchOp(
          s.sparkContext.getLocalProperty("sql.streaming.queryId"), id)
        val t0 = System.nanoTime()
        ctx.span("sinks", "upsert", op) {
          KeyedUpsert.upsert(s, outDir, batch, keyCols = Seq("id"),
            numBuckets = NumBuckets)
        }
        val ms = (System.nanoTime() - t0) / 1e6
        onCommit(id, System.currentTimeMillis().toDouble)
        // traced runs, measured window only; an upsert that committed no
        // version was empty
        if (ctx.tracer.isDefined && Sinks.recordCommitFiles(ctx, outDir, timed) && timed)
          ctx.rec.sample("upsert_ms", ms)
      }
      .start()
  }

  /** The batch form of the chain over the same topic: the rollup the
    * streaming run must reproduce exactly. */
  def reference(spark: SparkSession, topicDir: String): DataFrame =
    Medallion.dayRollup(Medallion.gold(Medallion.silver(dedup(
      Topic.decodeEvents(Topic.readBatch(spark, topicDir)))),
      Dims.metricMappings(spark), Dims.deviceHistory(spark)))

  def dedup(events: DataFrame): DataFrame =
    StreamOps.watermarkDedup(events, "ts", Retention, tag = "evt",
      keyCols = Seq(col("event_id"), col("event_type")))

  def lineCount(f: File): Long = {
    val src = Source.fromFile(f)
    try src.getLines().size.toLong finally src.close()
  }

  def files(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".json")).sortBy(_.getName)

  /** Wait until `q` has run no trigger for `quietMs` (at most `maxMs`). */
  def awaitIdle(q: StreamingQuery, quietMs: Long, maxMs: Long): Unit = {
    val end = System.currentTimeMillis() + maxMs
    var idleSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < end &&
        System.currentTimeMillis() - idleSince < quietMs) {
      if (q.status.isTriggerActive) idleSince = System.currentTimeMillis()
      Thread.sleep(10)
    }
  }

  /** Set-up repeated `PrepReps` times: the whole chain, run to completion
    * over the warm-up topic into a fresh store. Records each rep's
    * seconds as `prep_s`. */
  def prepare(ctx: Ctx): Unit =
    for (k <- 0 until PrepReps) {
      val t0 = System.nanoTime()
      startChain(ctx, ctx.dir("input/warm"), ctx.dir(s"prep$k/out"),
        ctx.dir(s"prep$k/ckpt"), Trigger.AvailableNow(), maxFiles = 1)
        .awaitTermination()
      ctx.rec.sample("prep_s", (System.nanoTime() - t0) / 1e9)
    }

  /** Final store vs the batch reference; every op fails on a mismatch. */
  def checkRollup(ctx: Ctx, name: String, outDir: String, ref: DataFrame,
      ops: Long): Unit = {
    val t0 = System.nanoTime()
    val got = KeyedUpsert.read(ctx.spark, outDir)
    ctx.rec.sample("resolve_ms", (System.nanoTime() - t0) / 1e6)
    val cols = ref.columns.map(col)
    val g = got.select(cols: _*)
    val extra = g.exceptAll(ref).count()
    val missing = ref.exceptAll(g).count()
    ctx.rec.check(name, extra == 0 && missing == 0,
      s"rows not in reference: $extra, reference rows missing: $missing", ops)
  }

  /** File -> id of the micro-batch that read it. The file-source log
    * records each file under the source's own batch number n; the
    * offset log records, per micro-batch, the source offset it read up
    * to. The first micro-batch whose offset reaches n read the file
    * (no-data micro-batches repeat the previous offset). */
  def batchOfFile(ckpt: String): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
    val offset = """"logOffset":(\d+)""".r
    def lines(f: File) = {
      val src = Source.fromFile(f)
      try src.getLines().toList finally src.close()
    }
    val readUpTo = logFiles(new File(ckpt, "offsets"))
      .flatMap(f => f.getName.toLongOption.flatMap(id => lines(f)
        .flatMap(l => offset.findFirstMatchIn(l)).lastOption
        .map(m => id -> m.group(1).toLong)))
      .sortBy(_._1)
    logFiles(new File(ckpt, "sources/0")).flatMap(lines)
      .flatMap(l => entry.findFirstMatchIn(l)).flatMap { m =>
        val n = m.group(2).toLong
        readUpTo.find(_._2 >= n).map { case (id, _) =>
          new File(new java.net.URI(m.group(1))).getName -> id }
      }.toMap
  }
  private def logFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.filter(f => f.isFile && !f.getName.startsWith("."))

  /** One continuously running ProcessingTime chain first keeps up with
    * an open-loop trickle — slices renamed into the topic on a fixed
    * schedule, many small triggers — then catches up on a backlog file
    * published at once, one large trigger. A file's freshness is
    * the time from its rename to the commit of the micro-batch that
    * read it. */
  def run(ctx: Ctx): Unit = {
    val rec = ctx.rec
    prepare(ctx)
    Main.log("prepared")
    val backlog = files(ctx.dir("input/backlog"))
    val slices = files(ctx.dir("input/staged"))
    val events = (backlog ++ slices).map(f => f.getName -> lineCount(f)).toMap
    val intervalMs = ctx.conf("interval_ms")
    val topic = new File(ctx.dir("topic")); topic.mkdirs()
    val out = ctx.dir("out"); val ckpt = ctx.dir("ckpt")
    val commits = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val q = startChain(ctx, topic.getPath, out, ckpt,
      Trigger.ProcessingTime(ctx.conf("trigger_ms").toLong), maxFiles = 1,
      onCommit = (id, ms) => commits.put(id, ms))
    val visible = mutable.LinkedHashMap[String, Double]()
    def publish(f: File): Double = {
      Files.move(f.toPath, new File(topic, f.getName).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      val ms = System.currentTimeMillis().toDouble
      visible(f.getName) = ms
      ms
    }
    def commitOf(name: String): Option[Double] =
      batchOfFile(ckpt).get(name).flatMap(id => Option(commits.get(id)))
    def awaitCommitted(names: Seq[String], timeoutMs: Long): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      def done = { val b = batchOfFile(ckpt)
        names.forall(n => b.get(n).exists(commits.containsKey)) }
      while (!done && System.currentTimeMillis() < end && q.exception.isEmpty)
        Thread.sleep(20)
      done
    }
    // untimed: the first slice into the live query meets an empty store
    // and runs faster than every later one, so it is not a sample
    val warm = slices.head
    publish(warm)
    awaitCommitted(Seq(warm.getName), 120000)
    awaitIdle(q, 300, 10000)
    Main.log("live query warm")
    Main.resetPeakHeap()
    val gc0 = Main.gcMs()
    graft.ProbeLog.hostStart()
    val cpu0 = Main.cpuNs()
    val start = System.currentTimeMillis() + 100.0
    rec.scalar("window_start_ms", start)
    measuring = true
    // trickle: one slice per interval for the run's seconds
    val n = math.max(3, (ctx.seconds * 1000 / intervalMs).toInt)
    require(slices.size > n, "not enough staged slices")
    val timed = slices.slice(1, n + 1)
    var backlogEnd = 0
    timed.zipWithIndex.foreach { case (f, k) =>
      val due = start + k * intervalMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait.toLong)
      if (k == n - 1) backlogEnd = timed.take(k).count(p => commitOf(p.getName).isEmpty)
      rec.sample("lateness_ms", publish(f) - due)
    }
    val keptUp = awaitCommitted(timed.map(_.getName), 120000)
    // catch-up: once the no-data trigger after the last slice is done,
    // the backlog becomes visible
    awaitIdle(q, 300, 10000)
    val b0 = System.currentTimeMillis().toDouble
    backlog.foreach(publish)
    val caughtUp = awaitCommitted(backlog.map(_.getName), 120000)
    rec.sample("drain_ms", backlog.flatMap(f => commitOf(f.getName))
      .foldLeft(b0)(_ max _) - b0)
    val cpu1 = Main.cpuNs()
    val end = System.currentTimeMillis().toDouble
    rec.scalar("window_end_ms", end)
    measuring = false
    q.stop()
    rec.scalar("gc_ms", (Main.gcMs() - gc0).toDouble)
    rec.scalar("peak_heap_mb", Main.peakHeapMb())
    ctx.hostEnd()
    q.exception.foreach(e => throw e)
    timed.foreach { f =>
      val c = commitOf(f.getName)
      c.foreach(ms => rec.sample("freshness_ms", ms - visible(f.getName)))
      rec.op(c.isDefined)
    }
    backlog.foreach(f => rec.op(commitOf(f.getName).isDefined))
    rec.scalar("backlog_slices_end", backlogEnd)
    rec.scalar("backlog_events", backlog.map(f => events(f.getName)).sum)
    rec.scalar("events", (backlog ++ timed).map(f => events(f.getName)).sum)
    rec.scalar("window_s", (end - start) / 1000)
    rec.scalar("cpu_ms", (cpu1 - cpu0) / 1e6)
    rec.check("all_files_committed", keptUp && caughtUp,
      s"${backlog.size} backlog files, ${timed.size} timed slices")
    // the chain keeps up with the trickle: every earlier slice is
    // committed by the time the last one is published
    rec.check("no_backlog_growth", backlogEnd == 0,
      s"$backlogEnd slices uncommitted at the last publish", timed.size)
    ctx.checkLateness(timed.size)
    Main.log("window done")
    val ref = reference(ctx.spark, topic.getPath).persist()
    checkRollup(ctx, "rollup_equals_batch", out, ref, timed.size + backlog.size)
    ref.unpersist()
    if (ctx.tracer.isDefined) {
      Stages.record(ctx, topic.getPath)
      Sinks.recordSnapshotFiles(ctx, out)
    }
  }
}

/** Per-stage cost of the chain's batch form over one topic: each stage
  * materialised (noop sink), charged the increment over the stage before
  * it, per 1000 input events. Traced runs only. */
object Stages {
  def record(ctx: Ctx, topicDir: String): Unit = {
    val spark = ctx.spark
    def topic = Topic.readBatch(spark, topicDir)
    val kevents = topic.count() / 1000.0
    def decoded = Topic.decodeEvents(topic)
    def silver = Medallion.silver(Ingest.dedup(decoded))
    def gold = Medallion.gold(silver, Dims.metricMappings(spark),
      Dims.deviceHistory(spark))
    def rollup = Medallion.dayRollup(gold)
    def time(df: => DataFrame): Double = {
      val runs = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
      runs.sorted.apply(1)
    }
    val t = Seq(time(decoded), time(silver), time(gold), time(rollup))
    val inc = t.head +: t.sliding(2).map(p => p(1) - p(0)).toSeq
    Seq("sources.decode", "pipeline.silver", "pipeline.gold", "pipeline.rollup")
      .zip(inc).foreach { case (n, ms) =>
        ctx.rec.scalar(s"${n}_ms_per_kevent", ms / kevents)
      }
  }
}
