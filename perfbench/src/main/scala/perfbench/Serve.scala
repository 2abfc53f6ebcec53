package perfbench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dims, Medallion}
import graft.sinks.KeyedUpsert
import graft.sources.Topic
import graft.streaming.StreamingMedallion

/** Serving reads: the latest-value table (conditional MERGE) and the
  * hour-partials table are built by the library's streaming builders
  * during set-up; then two closed-loop readers do Zipf-keyed point
  * lookups and one-remote-one-day range reads while one writer upserts
  * small batches of newer values into the latest table on a schedule. */
object Serve {
  val Keys = Seq("remote_id", "metric_id", "provider_id", "category_id")
  val NumBuckets = 8 // runLatest's default
  val Readers = 2
  val LookupShare = 0.7
  val WarmWrites = 1
  val DaySec = 86400L

  /** (unix_timestamp, element) as one comparable Long; element ids stay
    * below 10^7 in every generated input. */
  def ordOf(ts: Long, el: Long): Long = ts * 10000000L + el
  def keyOf(r: Row): String = Keys.map(k => r.get(r.fieldIndex(k))).mkString("|")

  /** Zipf(s) over ranks 0..n-1: cumulative weights for binary search. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def pick(cdf: Array[Double], rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val base = ctx.dir("input/base")
    val updates = ctx.dir("input/updates")
    val nBase = Ingest.files(base).size
    // set-up, repeated: the latest table's build (median reported);
    // the hour-partials table is built once
    for (k <- 0 until Ingest.PrepReps) {
      val t0 = System.nanoTime()
      StreamingMedallion.runLatest(spark, base, ctx.dir(s"prep$k/latest"),
        ctx.dir(s"prep$k/latest_ckpt"), maxFilesPerTrigger = nBase)
      rec.sample("prep_s", (System.nanoTime() - t0) / 1e9)
    }
    val t0 = System.nanoTime()
    StreamingMedallion.runHourPartials(spark, base, ctx.dir("hour"),
      ctx.dir("hour_ckpt"), maxFilesPerTrigger = nBase)
    rec.scalar("once_s", (System.nanoTime() - t0) / 1e9)
    Main.log("stores built")
    val latestDir = ctx.dir(s"prep${Ingest.PrepReps - 1}/latest")
    val hourDir = ctx.dir("hour")

    // what the readers may pick and what they must see
    val zipfS = ctx.conf("zipf_s")
    val latest0 = KeyedUpsert.read(spark, latestDir)
    val expected = new ConcurrentHashMap[String, java.lang.Long]()
    latest0.collect().foreach { r =>
      expected.put(keyOf(r), ordOf(r.getAs[Long]("unix_timestamp"),
        r.getAs[Long]("element_ord")))
    }
    val gold = Medallion.gold(Medallion.silver(Ingest.dedup(
      Topic.decodeEvents(Topic.readBatch(spark, base)))),
      Dims.metricMappings(spark), Dims.deviceHistory(spark))
    val hot = gold.groupBy(Keys.map(col): _*).count().collect()
      .sortBy(r => (-r.getLong(4), keyOf(r)))
    val keyRows = hot.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val keyCdf = zipfCdf(keyRows.length, zipfS)
    val dayCounts = KeyedUpsert.read(spark, hourDir)
      .groupBy(col("remote_id"), (col("bucket_ts") - col("bucket_ts") % DaySec).as("day"))
      .count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val daysOf = dayCounts.keys.groupBy(_._1).view.mapValues(_.map(_._2).toArray.sorted).toMap
    // remotes with hour rows, ranked like the keys
    val remotes = hot.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(4)).sum)
      .toSeq.filter(p => daysOf.contains(p._1)).sortBy { case (r, n) => (-n, r) }
      .map(_._1).toArray
    val remoteCdf = zipfCdf(remotes.length, zipfS)
    // writer batches: gold rows of each update file in the latest table's
    // shape; the upsert's in-batch top-1 and conditional MERGE pick the max
    val first = ctx.conf("update_first_id").toLong
    val per = ctx.conf("update_events").toLong
    val updRows = Medallion.gold(Medallion.silver(
        Topic.decodeEvents(Topic.readBatch(spark, updates))),
        Dims.metricMappings(spark), Dims.deviceHistory(spark))
      .withColumn("element_ord", col("element").cast("long"))
      .withColumn("ord", struct(col("unix_timestamp"), col("element_ord")))
      .select(latest0.columns.map(col): _*)
    val schema = updRows.schema
    val byFile = updRows.collect()
      .groupBy(r => ((r.getAs[Long]("element_ord") - first) / per).toInt)
    val batches = Array.tabulate(Ingest.files(updates).size) { i =>
      val rows = byFile.getOrElse(i, Array.empty[Row]).toSeq
      (spark.createDataFrame(rows.asJava, schema), rows)
    }

    def lookup(op: String, rng: SplittableRandom, timed: Boolean): Unit = {
      val (r, m, p, c) = keyRows(pick(keyCdf, rng))
      val key = s"$r|$m|$p|$c"
      val want = expected.get(key)
      val t0 = System.nanoTime()
      val rows = ctx.asOp(op) { ctx.span("serve", "lookup", op) {
        val df = timedRead(ctx, op, latestDir, timed)
        ctx.span("spark", "collect", op) {
          df.filter(col("remote_id") === r && col("metric_id") === m &&
            col("provider_id") === p && col("category_id") === c).collect()
        }
      } }
      val ms = (System.nanoTime() - t0) / 1e6
      val ok = rows.length == 1 && ordOf(rows(0).getAs[Long]("unix_timestamp"),
        rows(0).getAs[Long]("element_ord")) >= want
      if (timed) {
        rec.sample("lookup_ms", ms)
        rec.sample("rows_returned", rows.length)
        rec.op(ok)
      }
    }

    def range(op: String, rng: SplittableRandom, timed: Boolean): Unit = {
      val r = remotes(pick(remoteCdf, rng))
      val days = daysOf(r)
      val d = days(rng.nextInt(days.length))
      val t0 = System.nanoTime()
      val rows = ctx.asOp(op) { ctx.span("serve", "range", op) {
        val df = timedRead(ctx, op, hourDir, timed)
        ctx.span("spark", "collect", op) {
          Medallion.finalizeRollup(df.filter(col("remote_id") === r &&
            col("bucket_ts") >= d && col("bucket_ts") < d + DaySec)).collect()
        }
      } }
      val ms = (System.nanoTime() - t0) / 1e6
      if (timed) {
        rec.sample("range_ms", ms)
        rec.sample("rows_returned", rows.length)
        rec.op(rows.length == dayCounts((r, d)))
      }
    }

    def write(j: Int, timed: Boolean): Unit = {
      val op = s"write-$j"
      val (df, rows) = batches(j)
      val t0 = System.nanoTime()
      ctx.asOp(op) { ctx.span("sinks", "upsert", op) {
        KeyedUpsert.upsert(spark, latestDir, df, keyCols = Keys,
          numBuckets = NumBuckets, tieBreak = Some("ord"), keepMaxOnMerge = true)
      } }
      val ms = (System.nanoTime() - t0) / 1e6
      rows.foreach { r =>
        val o = ordOf(r.getAs[Long]("unix_timestamp"), r.getAs[Long]("element_ord"))
        expected.merge(keyOf(r), o, (a, b) => math.max(a.longValue, b.longValue))
      }
      if (timed) {
        rec.sample("upsert_ms", ms)
        if (ctx.tracer.isDefined) Sinks.recordCommitFiles(ctx, latestDir)
        rec.op(true)
      }
    }

    // untimed warm-up: the first writer batches, each followed by reads
    val warmRng = new SplittableRandom(ctx.seed)
    for (j <- 0 until WarmWrites) {
      write(j, timed = false)
      lookup(s"warm-$j-0", warmRng, timed = false)
      lookup(s"warm-$j-1", warmRng, timed = false)
      range(s"warm-$j", warmRng, timed = false)
    }

    Main.log("warm-up done")
    Main.resetPeakHeap()
    val gc0 = Main.gcMs()
    graft.ProbeLog.hostStart()
    val cpu0 = Main.cpuNs()
    val stop = new AtomicBoolean(false)
    val start = System.currentTimeMillis().toDouble
    rec.scalar("window_start_ms", start)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => errors.add(e) }, name)
      t.start()
      t
    }
    val readers = (0 until Readers).map { i =>
      thread(s"reader-$i") {
        val rng = new SplittableRandom(ctx.seed * 1000003L + i)
        var n = 0
        while (!stop.get) {
          val op = s"read-$i-$n"
          n += 1
          if (rng.nextDouble() < LookupShare) lookup(op, rng, timed = true)
          else range(op, rng, timed = true)
        }
      }
    }
    val intervalMs = ctx.conf("writer_interval_ms")
    @volatile var applied = WarmWrites
    val writer = thread("writer") {
      while (!stop.get && applied < batches.length) {
        val due = start + (applied - WarmWrites) * intervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait.toLong)
        if (!stop.get) {
          rec.sample("lateness_ms", System.currentTimeMillis() - due)
          write(applied, timed = true)
          applied += 1
        }
      }
    }
    Thread.sleep((ctx.seconds * 1000).toLong)
    stop.set(true)
    (readers :+ writer).foreach(_.join())
    val cpu1 = Main.cpuNs()
    val end = System.currentTimeMillis().toDouble
    rec.scalar("window_end_ms", end)
    rec.scalar("gc_ms", (Main.gcMs() - gc0).toDouble)
    rec.scalar("peak_heap_mb", Main.peakHeapMb())
    ctx.hostEnd()
    errors.asScala.headOption.foreach(e => throw e)
    val reads = rec.count("lookup_ms") + rec.count("range_ms")
    rec.scalar("reads", reads)
    rec.scalar("ops", reads + applied - WarmWrites)
    rec.scalar("window_s", (end - start) / 1000)
    rec.scalar("cpu_ms", (cpu1 - cpu0) / 1e6)
    rec.check("writer_had_batches", applied < batches.length,
      s"$applied of ${batches.length} update batches applied")
    ctx.checkLateness(applied - WarmWrites)

    Main.log("window done")
    // the final latest table equals the batch latest over every applied event
    val events = Topic.decodeEvents(Topic.readBatch(spark, base)).union(
      Topic.decodeEvents(Topic.readBatch(spark, updates))
        .filter(col("event_id") < first + applied * per))
    val cmp = (Keys ++ Seq("unix_timestamp", "value_double", "value_string")).map(col)
    val ref = Medallion.latest(Medallion.gold(Medallion.silver(Ingest.dedup(events)),
      Dims.metricMappings(spark), Dims.deviceHistory(spark))).select(cmp: _*).persist()
    val got = KeyedUpsert.read(spark, latestDir).select(cmp: _*)
    val extra = got.exceptAll(ref).count()
    val missing = ref.exceptAll(got).count()
    rec.check("latest_equals_batch", extra == 0 && missing == 0,
      s"rows not in reference: $extra, reference rows missing: $missing",
      wrongOps = applied - WarmWrites)
    ref.unpersist()
    if (ctx.tracer.isDefined) Sinks.recordSnapshotFiles(ctx, latestDir)
  }

  /** The `KeyedUpsert.read` call itself: manifest resolve, listing and
    * schema, before any row is scanned. */
  private def timedRead(ctx: Ctx, op: String, dir: String, timed: Boolean): DataFrame = {
    val t0 = System.nanoTime()
    val df = ctx.span("sinks", "read", op)(KeyedUpsert.read(ctx.spark, dir))
    if (timed) ctx.rec.sample("resolve_ms", (System.nanoTime() - t0) / 1e6)
    df
  }
}

/** File-level facts about a KeyedUpsert table, for the traced run. */
object Sinks {
  private val lastVersion = new ConcurrentHashMap[String, java.lang.Long]()

  private def parquetFiles(d: File): Int =
    Option(d.listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))

  /** Records the files written by the newest commit when the last call
    * on `dir` committed one; returns whether it did. */
  def recordCommitFiles(ctx: Ctx, dir: String, record: Boolean = true): Boolean = {
    val v = KeyedUpsert.versions(ctx.spark, dir).lastOption.getOrElse(0L)
    val prev = Option(lastVersion.put(dir, v)).map(_.longValue).getOrElse(0L)
    if (v > prev && record) {
      val prefix = f"data/c$v%08d-"
      ctx.rec.sample("files_written", KeyedUpsert.snapshot(ctx.spark, dir).values
        .filter(_.startsWith(prefix)).map(rel => parquetFiles(new File(dir, rel))).sum)
    }
    v > prev
  }

  def recordSnapshotFiles(ctx: Ctx, dir: String): Unit =
    ctx.rec.scalar("snapshot_files", KeyedUpsert.snapshot(ctx.spark, dir).values
      .map(rel => parquetFiles(new File(dir, rel))).sum)
}
