package graft

import java.io.IOException
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.sources.{Tables, Topic}
import graft.streaming._

/** The exactly-once contract of every streaming actor, checked in one
  * place: Structured Streaming re-delivers a micro-batch whose commit
  * never landed, so each actor's per-batch work must be idempotent in
  * the batch id. The crash table drives all nine actors whose
  * `processBatch` runs through [[StreamOps.runBounded]]; the heal specs
  * damage the two [[FoldedStore]] running checkpoints; the last two
  * crash inside a single store write. */
class StreamReplaySpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private lazy val docs = Tables.documents(spark, SfDir)
  private lazy val events = Tables.events(spark, SfDir)

  /** One actor: how its topic is published under a root, how the topic
    * decodes, its per-batch work on a root, its report, and its own
    * uncrashed `run` on a fresh root. */
  private case class Actor(name: String, publish: String => Unit,
      decode: DataFrame => DataFrame,
      perBatch: String => (DataFrame, Long) => Unit,
      report: String => DataFrame, run: String => DataFrame)

  private def sliced(name: String,
      perBatch: String => (DataFrame, Long) => Unit,
      report: String => DataFrame, run: String => DataFrame) =
    Actor(name, root => StreamDrift.publishSliced(docs, s"$root/topic", 4),
      Topic.decodeDocuments, perBatch, report, run)

  private def filed(name: String,
      perBatch: String => (DataFrame, Long) => Unit,
      report: String => DataFrame, run: String => DataFrame) =
    Actor(name, root => Topic.publishDocuments(docs, s"$root/topic", nFiles = 4),
      Topic.decodeDocuments, perBatch, report, run)

  private val actors = Seq(
    filed("IngestDedup (st11)", r => IngestDedup.processBatch(_, _, r),
      r => spark.read.parquet(s"$r/pairs").select("a", "b", "est_jaccard"),
      IngestDedup.run(spark, docs, _, nFiles = 4)),
    filed("StreamingCorpusBuild (st16)",
      r => StreamingCorpusBuild.processBatch(_, _, r),
      StreamingCorpusBuild.publish(spark, _),
      StreamingCorpusBuild.run(spark, docs, _, nFiles = 4)),
    sliced("StreamDrift (st18)",
      r => StreamDrift.processBatch(_, _, r, StreamDrift.tokenLogBucket),
      StreamDrift.report(spark, _),
      StreamDrift.run(spark, docs, _, 4, StreamDrift.tokenLogBucket)),
    sliced("StreamRefit (st20)", r => StreamRefit.processBatch(_, _, r),
      StreamRefit.weights(spark, _), StreamRefit.run(spark, docs, _)),
    sliced("StreamQuarantine (st21)",
      r => StreamQuarantine.processBatch(_, _, r),
      StreamQuarantine.routed(spark, _), StreamQuarantine.run(spark, docs, _)),
    Actor("StreamSketch (st22)",
      root => StreamSketch.publishSliced(events, s"$root/topic", 4),
      Topic.decodeEvents, r => StreamSketch.processBatch(_, _, r),
      StreamSketch.report(spark, _), StreamSketch.run(spark, events, _)),
    sliced("StreamPromote (st23)", r => StreamPromote.processBatch(_, _, r),
      StreamPromote.candidates(spark, _), StreamPromote.run(spark, docs, _)),
    sliced("StreamLineage (st24)", r => StreamLineage.processBatch(_, _, r),
      StreamLineage.lineage(spark, _), StreamLineage.run(spark, docs, _)),
    sliced("StreamingCuratedCorpus (st25)",
      r => StreamingCuratedCorpus.processBatch(_, _, r),
      StreamingCorpusBuild.publish(spark, _),
      StreamingCuratedCorpus.run(spark, docs, _)))

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq

  for (a <- actors)
    test(s"crash after batch 1's work, before its commit, replays to the " +
        s"uncrashed report: ${a.name}") {
      val root = tmp("crash")
      a.publish(root)
      val source = a.decode(Topic.readStream(spark, s"$root/topic", 1))
      var crashed = false
      val err = intercept[StreamingQueryException] {
        StreamOps.runBounded(source, s"$root/ckpt") { (b, id) =>
          a.perBatch(root)(b, id)
          if (id == 1L && !crashed) {
            crashed = true
            throw new IllegalStateException(s"injected crash in ${a.name}")
          }
        }
      }
      crashed shouldBe true
      messages(err).exists(_.contains("injected crash")) shouldBe true
      // the offset log planned batch 1, the commit log never recorded it
      Files.exists(Paths.get(s"$root/ckpt/offsets/1")) shouldBe true
      Files.exists(Paths.get(s"$root/ckpt/commits/1")) shouldBe false
      // restart on the same checkpoint: batch 1 is re-delivered whole
      StreamOps.runBounded(source, s"$root/ckpt")(a.perBatch(root))
      Files.exists(Paths.get(s"$root/ckpt/commits/1")) shouldBe true
      rows(a.report(root)) shouldBe rows(a.run(tmp("fresh")))
    }

  /** Events whose every slice brings new users, so a heal that let a
    * later batch's partial in would raise some bucket's max rank. */
  private lazy val healEvents = (0 until 400)
    .map(i => (i.toLong, s"type${i % 3}", i.toLong))
    .toDF("event_id", "event_type", "user_id")

  /** Drive batches 0..3 of both running checkpoints directly. `damage`
    * deletes each `<cum>/batch=1` before batch 2 (batch 2 heals from the
    * partials ≤ 2), then replays batch 2 with batch 3's partial present
    * (the heal must leave batch 3 out). */
  private def driveCheckpoints(root: String, damage: Boolean): Unit = {
    def slice(df: DataFrame, key: String, b: Long) =
      df.filter(pmod(col(key), lit(4L)) === b)
    def step(b: Long): Unit = {
      StreamSketch.processBatch(slice(healEvents, "event_id", b), b,
        s"$root/s")
      StreamDrift.processBatch(slice(docs, "doc_id", b), b, s"$root/d",
        DriftGate.axis, cumulative = true)
    }
    for (b <- 0L to 3L) {
      if (damage && b == 2L) {
        deleteDir(s"$root/s/cum/batch=1")
        deleteDir(s"$root/d/cumhist/batch=1")
      }
      step(b)
    }
    if (damage) step(2L)
  }

  private def deleteDir(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true) shouldBe true
  }

  /** Each surviving `<cum>/batch=b` as sorted rows, by batch. */
  private def checkpoints(root: String, cum: String): Map[Long, Seq[String]] =
    Store.batchIdsUnder(Store.hfs(spark, root), root, cum)
      .map(b => b -> rows(spark.read.parquet(s"$root/$cum/batch=$b"))).toMap

  private lazy val healed = {
    val (ok, hurt) = (tmp("heal-ok"), tmp("heal-hurt"))
    driveCheckpoints(ok, damage = false)
    driveCheckpoints(hurt, damage = true)
    (ok, hurt)
  }

  test("cum/ self-heal: a lost sketch checkpoint refolds to the " +
      "undamaged rows, a replay's heal ignores later partials") {
    val (ok, hurt) = healed
    val want = checkpoints(s"$ok/s", "cum")
    want.keySet shouldBe Set(0L, 1L, 2L, 3L)
    checkpoints(s"$hurt/s", "cum") shouldBe (want - 1L)
    rows(StreamSketch.report(spark, s"$hurt/s")) shouldBe
      rows(StreamSketch.report(spark, s"$ok/s").filter($"batch" =!= 1L))
  }

  test("cumhist/ self-heal: a lost histogram checkpoint refolds to the " +
      "undamaged rows, and decisionFor agrees for every batch") {
    val (ok, hurt) = healed
    val want = checkpoints(s"$ok/d", "cumhist")
    want.keySet shouldBe Set(0L, 1L, 2L, 3L)
    checkpoints(s"$hurt/d", "cumhist") shouldBe (want - 1L)
    // batch 2's prev side is the missing cumhist/batch=1: it heals
    // through the strictly-before read of the stored hists
    for (b <- 0L to 3L)
      withClue(s"batch $b: ") {
        DriftGate.decisionFor(spark, s"$hurt/d", b) shouldBe
          DriftGate.decisionFor(spark, s"$ok/d", b)
      }
  }

  test("a crash inside a trail write leaves no entry: the replay " +
      "re-derives the firing decision and the threshold marker") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[CrashingFs].getName)
    // sf0.001 sliced doc_id mod 3 fires at batch 1 alone
    DriftGate.firedBatches(docs, nSlices = 3) shouldBe Set(1L)
    def slice(b: Long) = docs.filter(pmod($"doc_id", lit(3L)) === b)
    /** Crash inside the write of the entry `at` names during batch b,
      * then replay batch b. */
    def crashThenReplay(root: String, b: Long)(at: HPath => Boolean): Unit = {
      CrashingFs.armed = Some(at)
      intercept[IOException](StreamQuarantine.processBatch(slice(b), b, root))
      CrashingFs.armed shouldBe None
      StreamQuarantine.processBatch(slice(b), b, root)
    }
    val want = rows(StreamQuarantine.batchReference(docs, nSlices = 3))
    // the firing batch's dec/ entry: an empty entry would read as clean
    val dec = "crashfs://" + tmp("crash-dec")
    StreamQuarantine.processBatch(slice(0L), 0L, dec)
    crashThenReplay(dec, 1L)(p =>
      p.getParent.getName == "dec" && p.getName.contains("batch-1"))
    StreamQuarantine.processBatch(slice(2L), 2L, dec)
    rows(StreamQuarantine.routed(spark, dec)) shouldBe want
    // the threshold marker: an empty one would fail every restart
    val marker = "crashfs://" + tmp("crash-marker")
    crashThenReplay(marker, 0L)(_.getName.contains("threshold.ppm"))
    for (b <- 1L to 2L) StreamQuarantine.processBatch(slice(b), b, marker)
    rows(StreamQuarantine.routed(spark, marker)) shouldBe want
  }

  test("a crash inside batch 0's first store write replays to the " +
      "uncrashed stores: readers skip the uncommitted directory") {
    val batch0 = docs.filter(pmod($"doc_id", lit(4L)) === 0L)
    /** Batch 0 on a fresh root, and on one where a crashed attempt left
      * only `index/batch=0/_temporary/0/`. */
    def both(run: String => Unit): (String, String) = {
      val (clean, crashed) = (tmp("uncrashed"), tmp("crashed"))
      Files.createDirectories(
        Paths.get(crashed, "index", "batch=0", "_temporary", "0"))
      run(clean); run(crashed)
      (clean, crashed)
    }
    val (dedup, dedupCrashed) = both(IngestDedup.processBatch(batch0, 0L, _))
    for (store <- Seq("index", "pairs"))
      rows(spark.read.parquet(s"$dedupCrashed/$store")) shouldBe
        rows(spark.read.parquet(s"$dedup/$store"))
    val (build, buildCrashed) =
      both(StreamingCorpusBuild.processBatch(batch0, 0L, _))
    rows(StreamingCorpusBuild.publish(spark, buildCrashed)) shouldBe
      rows(StreamingCorpusBuild.publish(spark, build))
  }
}
