package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions._
import graft.pipeline.{Dims, Medallion}
import graft.sinks.KeyedUpsert
import graft.sources.{Tables, Topic}
import graft.streaming.StreamingMedallion

/** The streaming trigger path's metadata I/O: the checkpoint manager
  * [[GraftExtensions.register]] picks, KeyedUpsert's commit listing and
  * its snapshot reads.
  * Without a native Hadoop library, FileContext renames fork `readlink`
  * and located file statuses fork `ls -ld`; neither may run per trigger.
  */
class TriggerPathSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  /** Commands of every process the JVM starts while `body` runs. */
  private def spawnsDuring(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  private def program(command: String): String =
    command.trim.takeWhile(_ != ' ').split('/').last

  private def rollup(dir: String): Long =
    StreamingMedallion.runDayRollup(spark, s"$dir/topic", s"$dir/out",
      s"$dir/ckpt", numBuckets = 4, dedupRetention = "3650 days")

  test("a registered session's day-rollup stream and upsert fork no readlink or ls") {
    val dir = tmp("spawns")
    val events = Tables.events(spark, SfDir)
    Topic.publishOrderedSlices(s"$dir/topic", 2) { (k, append) =>
      Topic.publishEvents(events.filter($"event_id" % 2 === k),
        s"$dir/topic", nFiles = 1, append = append)
    }
    KeyedUpsert.upsert(spark, s"$dir/t",
      Seq(("a", 1), ("b", 2)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    val commands = spawnsDuring {
      rollup(dir) should be >= 2L
      KeyedUpsert.upsert(spark, s"$dir/t",
        Seq(("b", 20), ("c", 3)).toDF("k", "v"), Seq("k"), numBuckets = 4)
      new ProcessBuilder("true").start().waitFor() // the recording sees forks
    }
    commands.map(program) should contain("true")
    commands.filter(c => Set("readlink", "ls").contains(program(c))) shouldBe empty
  }

  test("a KeyedUpsert read and a filtered collect fork no readlink or ls") {
    val dir = tmp("read-spawns")
    KeyedUpsert.upsert(spark, s"$dir/t",
      Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    var rows = Seq.empty[(String, Int)]
    val commands = spawnsDuring {
      rows = KeyedUpsert.read(spark, s"$dir/t").filter($"k" === "b")
        .as[(String, Int)].collect().toSeq
      new ProcessBuilder("true").start().waitFor() // the recording sees forks
    }
    rows shouldBe Seq(("b", 2))
    commands.map(program) should contain("true")
    commands.filter(c => Set("readlink", "ls").contains(program(c))) shouldBe empty
  }

  test("a checkpoint written by Spark's default manager resumes under the registered one") {
    val dir = tmp("ckpt-compat")
    val events = Tables.events(spark, SfDir)
    val slices = Seq(events.filter($"event_id" % 2 === 0),
      events.filter($"event_id" % 2 =!= 0))
    val conf = GraftExtensions.CheckpointManagerConf
    val registered = spark.conf.getOption(conf)
    registered shouldBe Some(GraftExtensions.FileSystemCheckpointManager)
    Topic.publishEvents(slices(0), s"$dir/topic", nFiles = 1)
    spark.conf.unset(conf) // Spark's FileContext manager writes the checkpoint
    try rollup(dir) should be >= 1L
    finally registered.foreach(spark.conf.set(conf, _))
    Topic.publishEvents(slices(1), s"$dir/topic", nFiles = 1, append = true)
    rollup(dir) should be >= 1L
    val streamed = KeyedUpsert.read(spark, s"$dir/out")
    val batch = Medallion.dayRollup(Medallion.gold(
      Medallion.silver(events.dropDuplicates("event_id", "event_type")),
      Dims.metricMappings(spark), Dims.deviceHistory(spark)))
    streamed.count() shouldBe batch.count()
    streamed.select(batch.columns.map(col): _*).exceptAll(batch)
      .count() shouldBe 0
  }
}
