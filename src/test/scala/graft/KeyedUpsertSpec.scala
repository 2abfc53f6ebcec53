package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.{DriverScan, DriverScanExec, KeyedUpsert}

class KeyedUpsertSpec extends SparkSpec {
  import spark.implicits._

  /** Distinct commit dirs the live snapshot spans. */
  private def commitDirs(dir: String): Int =
    KeyedUpsert.snapshot(spark, dir).values.map(_.split('/')(1)).toSet.size

  /** Parquet files in each live bucket dir, by bucket. */
  private def filesPerBucket(dir: String): Map[Long, Int] =
    KeyedUpsert.snapshot(spark, dir).map { case (bk, rel) =>
      bk -> new java.io.File(s"$dir/$rel").list()
        .count(_.endsWith(".parquet"))
    }

  private def contents(dir: String): Map[Int, (Int, String)] =
    KeyedUpsert.read(spark, dir).as[(Int, Int, String)].collect()
      .map { case (k, t, v) => k -> ((t, v)) }.toMap

  /** A session on the shared context without the DriverScan strategy:
    * every read plans Spark's file scan. */
  private lazy val scanOnly = spark.newSession()

  /** The nodes of `df`'s executed plan, through AQE stages. */
  private def planNodes(df: DataFrame): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case n => n
    }

  private def driverServed(df: DataFrame): Boolean =
    planNodes(df).exists(_.isInstanceOf[DriverScanExec])

  /** The `DriverScanExec` of `df`'s executed plan. */
  private def driverExec(df: DataFrame): DriverScanExec =
    planNodes(df).collect { case d: DriverScanExec => d }.head

  /** `df`'s rows as `Row.toString` prints them, byte arrays by value. */
  private def sortedRows(df: DataFrame): Seq[String] = {
    def show(v: Any): String = v match {
      case b: Array[Byte] => b.mkString("bytes(", ",", ")")
      case r: Row => r.toSeq.map(show).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => s"${show(k)} -> ${show(x)}" }.mkString("Map(", ", ", ")")
      case s: scala.collection.Seq[_] => s.map(show).mkString("Seq(", ", ", ")")
      case x => String.valueOf(x)
    }
    df.collect().map(show).toSeq.sorted
  }

  /** `f`'s rows of the table at `dir` (`version`), read on the driver,
    * which must plan it, and checked equal to Spark's scan of them. */
  private def bothPaths(dir: String, f: Column,
      version: Option[Long] = None): Seq[String] = {
    val driver = KeyedUpsert.read(spark, dir, version).filter(f)
    val scan = KeyedUpsert.read(scanOnly, dir, version).filter(f)
    val rows = sortedRows(driver)
    driverServed(driver) shouldBe true
    planNodes(scan).exists(_.isInstanceOf[FileSourceScanExec]) shouldBe true
    rows shouldBe sortedRows(scan)
    rows
  }

  /** Spark jobs started while `body` runs, counted by its job group. */
  private def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = "keyed-upsert-job-guard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      org.apache.spark.ListenerBusDrain(sc)
      sc.setJobGroup(group, "KeyedUpsert")
      try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("insert then update then insert-new merges by key") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1), ("b", 2)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    KeyedUpsert.upsert(spark, dir,
      Seq(("b", 20), ("c", 3)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    val out = KeyedUpsert.read(spark, dir).as[(String, Int)].collect().toMap
    out shouldBe Map("a" -> 1, "b" -> 20, "c" -> 3)
  }

  test("diff reports added/updated/removed; identical rewrites are silent") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v"), Seq("k"),
      numBuckets = 4)
    // v2: b updated, d added, a REWRITTEN IDENTICALLY (must be silent),
    // then v3 deletes c
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1), ("b", 20), ("d", 4)).toDF("k", "v"), Seq("k"),
      numBuckets = 4)
    KeyedUpsert.delete(spark, dir, Seq("c").toDF("k"), Seq("k"),
      numBuckets = 4)
    val d = KeyedUpsert.diff(spark, dir, 1L, Seq("k"))
      .as[(String, String)].collect().toMap
    d shouldBe Map("b" -> "updated", "d" -> "added", "c" -> "removed")
    // same-version diff is empty
    KeyedUpsert.diff(spark, dir, 3L, Seq("k"), toVersion = Some(3L))
      .count() shouldBe 0L
  }

  test("replaying the same batch is idempotent") {
    val dir = tmp("upsert")
    val batch = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    KeyedUpsert.upsert(spark, dir, batch, Seq("k"), numBuckets = 4)
    KeyedUpsert.upsert(spark, dir, batch, Seq("k"), numBuckets = 4)
    KeyedUpsert.read(spark, dir).count() shouldBe 2
  }

  test("within-batch duplicates collapse; tieBreak picks the max") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1), ("a", 9), ("a", 5)).toDF("k", "v"), Seq("k"),
      numBuckets = 4, tieBreak = Some("v"))
    KeyedUpsert.read(spark, dir).as[(String, Int)].collect().toSeq shouldBe
      Seq(("a", 9))
  }

  test("keepMaxOnMerge: an out-of-order older batch cannot regress a key") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 10, "new")).toDF("k", "ts", "v"), Seq("k"),
      numBuckets = 4, tieBreak = Some("ts"), keepMaxOnMerge = true)
    // replayed batch carries an OLDER row for the same key
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 5, "old"), ("b", 1, "b1")).toDF("k", "ts", "v"), Seq("k"),
      numBuckets = 4, tieBreak = Some("ts"), keepMaxOnMerge = true)
    val out = KeyedUpsert.read(spark, dir)
      .as[(String, Int, String)].collect()
      .map { case (k, t, v) => k -> ((t, v)) }.toMap
    out("a") shouldBe ((10, "new")) // not regressed
    out("b") shouldBe ((1, "b1"))
  }

  test("untouched buckets are not rewritten (scale property)") {
    val dir = tmp("upsert")
    val many = spark.range(0, 400)
      .select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
    KeyedUpsert.upsert(spark, dir, many, Seq("k"), numBuckets = 16)
    val before = KeyedUpsert.snapshot(spark, dir)
    before.size shouldBe 16
    KeyedUpsert.upsert(spark, dir,
      Seq(("k1", 99L)).toDF("k", "v"), Seq("k"), numBuckets = 16)
    val after = KeyedUpsert.snapshot(spark, dir)
    // only k1's bucket moved to the new commit dir
    after.count { case (bk, rel) => before(bk) != rel } shouldBe 1
    KeyedUpsert.read(spark, dir).filter($"k" === "k1")
      .as[(String, Long)].collect().toSeq shouldBe Seq(("k1", 99L))
    KeyedUpsert.read(spark, dir).count() shouldBe 400
  }

  test("a crashed commit (data written, manifest never published) is invisible") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1), ("b", 2)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    // simulate a writer that died after writing its commit dir but
    // before the manifest rename — the one non-atomic window
    Seq(("a", 999)).toDF("k", "v").withColumn("__bucket", lit(0L))
      .write.partitionBy("__bucket")
      .parquet(s"$dir/data/c00000002-0")
    val out = KeyedUpsert.read(spark, dir).as[(String, Int)].collect().toMap
    out shouldBe Map("a" -> 1, "b" -> 2) // pre-crash state, not the orphan
    // the next successful commit takes version 2 and vacuum reclaims
    // the orphan once it ages out of the retained window
    KeyedUpsert.upsert(spark, dir,
      Seq(("c", 3)).toDF("k", "v"), Seq("k"), numBuckets = 4,
      retainVersions = 1)
    KeyedUpsert.read(spark, dir).count() shouldBe 3
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data/c00000002-0")) shouldBe false
  }

  test("time travel: version pinning and bucket-granular changesSince") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1), ("b", 2)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    KeyedUpsert.upsert(spark, dir,
      Seq(("b", 20)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    KeyedUpsert.upsert(spark, dir,
      Seq(("c", 3)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    KeyedUpsert.versions(spark, dir) shouldBe Seq(1L, 2L, 3L)
    KeyedUpsert.read(spark, dir, version = Some(1L))
      .as[(String, Int)].collect().toMap shouldBe Map("a" -> 1, "b" -> 2)
    KeyedUpsert.read(spark, dir, version = Some(2L))
      .as[(String, Int)].collect().toMap shouldBe Map("a" -> 1, "b" -> 20)
    KeyedUpsert.read(spark, dir)
      .as[(String, Int)].collect().toMap shouldBe
      Map("a" -> 1, "b" -> 20, "c" -> 3)
    // replay from v1: the buckets b and c hash into changed, so the
    // feed must carry their current rows (plus any bucket-mates)
    val changed = KeyedUpsert.changesSince(spark, dir, 1L)
      .as[(String, Int)].collect().toMap
    changed.keySet should contain allOf ("b", "c")
    KeyedUpsert.history(spark, dir).map(_.version) shouldBe Seq(1L, 2L, 3L)
  }

  test("history records operation, commit time and touched buckets") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v"), Seq("k"),
      numBuckets = 4)
    KeyedUpsert.delete(spark, dir, Seq("b").toDF("k"), Seq("k"),
      numBuckets = 4)
    KeyedUpsert.compact(spark, dir, sortCols = Seq("k"))
    val h = KeyedUpsert.history(spark, dir)
    h.map(_.version) shouldBe Seq(1L, 2L, 3L)
    h.map(_.operation) shouldBe Seq("MERGE", "DELETE", "OPTIMIZE")
    // the delete rewrote only the bucket(s) "b" hashes into; the
    // compact rewrote every live bucket
    h(1).touchedBuckets should be <= h(0).touchedBuckets
    h(2).touchedBuckets shouldBe
      KeyedUpsert.snapshot(spark, dir).size.toLong
    all(h.map(_.commitMs)) should be > 0L
    h.map(_.commitMs) shouldBe sorted
    // the metadata header must not disturb the mapping readback
    KeyedUpsert.read(spark, dir).as[(String, Int)].collect().toMap shouldBe
      Map("a" -> 1, "c" -> 3)
  }

  test("history reports files written; a manifest missing a header line fails by name") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      (0 until 40).map(k => (k, k)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    KeyedUpsert.restore(spark, dir, 1L)
    KeyedUpsert.history(spark, dir).map(c => (c.touchedBuckets, c.filesWritten)) shouldBe
      Seq((4L, 4L), (0L, 0L))
    val rows = KeyedUpsert.read(spark, dir, Some(1L)).as[(Int, Int)].collect().toSet
    rows.size shouldBe 40
    // the latest manifest loses one header line at a time: every call
    // that loads it fails naming the file and the line, nothing
    // commits, and version 1 is untouched
    val Seq(v1, v2) = Seq(1, 2).map(v => Paths.get(f"$dir/_manifests/v$v%08d.txt"))
    val (bytes1, bytes2) = (Files.readAllBytes(v1), Files.readAllBytes(v2))
    Files.deleteIfExists(v2.resolveSibling(s".${v2.getFileName}.crc"))
    for (key <- Seq("operation", "commitMs", "touchedBuckets", "filesWritten",
        "keys", "numBuckets", "schema")) withClue(s"#$key=: ") {
      val lines = Files.readAllLines(v2)
      lines.removeIf(_.startsWith(s"#$key=")) shouldBe true
      Files.write(v2, lines)
      val calls = Seq[(String, () => Any)](
        "read" -> (() => KeyedUpsert.read(spark, dir)),
        "history" -> (() => KeyedUpsert.history(spark, dir)),
        "upsert" -> (() => KeyedUpsert.upsert(spark, dir,
          Seq((0, 9)).toDF("k", "v"), Seq("k"), numBuckets = 4)))
      for ((name, call) <- calls) withClue(s"$name: ") {
        intercept[IllegalStateException](call()).getMessage shouldBe
          s"manifest $v2 has no #$key= line"
      }
      KeyedUpsert.versions(spark, dir) shouldBe Seq(1L, 2L)
      Files.readAllBytes(v1) shouldBe bytes1
      KeyedUpsert.read(spark, dir, Some(1L)).as[(Int, Int)].collect().toSet shouldBe rows
      Files.write(v2, bytes2)
    }
    KeyedUpsert.read(spark, dir).as[(Int, Int)].collect().toSet shouldBe rows
  }

  test("read, restore, changesSince and diff each list _manifests/ once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    val local = tmp("upsert")
    KeyedUpsert.upsert(spark, local,
      Seq(("a", 1), ("b", 2)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    KeyedUpsert.upsert(spark, local,
      Seq(("b", 20), ("c", 3)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    val dir = "countfs://" + local
    val calls = Seq[(String, () => Any)](
      "read" -> (() => KeyedUpsert.read(spark, dir).collect()),
      "changesSince" -> (() => KeyedUpsert.changesSince(spark, dir, 1L).collect()),
      "diff" -> (() => KeyedUpsert.diff(spark, dir, 1L, Seq("k")).collect()),
      "restore" -> (() => KeyedUpsert.restore(spark, dir, 1L)))
    for ((name, call) <- calls) withClue(s"$name: ") {
      CountingFs.reset()
      call()
      CountingFs.manifestListings.get shouldBe 1
    }
    // a read is one listing, one manifest read, one listing per live dir
    val live = KeyedUpsert.snapshot(spark, local).size
    CountingFs.reset()
    KeyedUpsert.read(spark, dir).count() shouldBe 2L
    (CountingFs.manifestListings.get, CountingFs.manifestReads.get,
      CountingFs.bucketListings.get) shouldBe ((1, 1, live))
  }

  test("restore re-publishes an old snapshot as a new pinnable commit") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1), ("b", 2)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    KeyedUpsert.upsert(spark, dir,
      Seq(("b", 20), ("c", 3)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    KeyedUpsert.delete(spark, dir, Seq("a").toDF("k"), Seq("k"),
      numBuckets = 4)
    KeyedUpsert.restore(spark, dir, 1L)
    // latest reads version 1's rows again
    KeyedUpsert.read(spark, dir).as[(String, Int)].collect().toMap shouldBe
      Map("a" -> 1, "b" -> 2)
    // ...via a NEW commit, with the rolled-over snapshots still pinnable
    KeyedUpsert.versions(spark, dir) shouldBe Seq(1L, 2L, 3L, 4L)
    KeyedUpsert.read(spark, dir, version = Some(3L))
      .as[(String, Int)].collect().toMap shouldBe Map("b" -> 20, "c" -> 3)
    KeyedUpsert.history(spark, dir).last.operation shouldBe "RESTORE"
    // the restored manifest shares version 1's directories — no rewrite
    KeyedUpsert.snapshot(spark, dir) shouldBe
      KeyedUpsert.snapshot(spark, dir, Some(1L))
  }

  test("delete removes matched keys, drops emptied buckets, keeps history") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    val before = KeyedUpsert.snapshot(spark, dir)
    KeyedUpsert.delete(spark, dir,
      Seq("b", "zz").toDF("k"), Seq("k"), numBuckets = 4)
    // survivors only
    KeyedUpsert.read(spark, dir).as[(String, Int)].collect().toMap shouldBe
      Map("a" -> 1, "c" -> 3, "d" -> 4)
    // untouched buckets keep their original directories (no rewrite)
    val after = KeyedUpsert.snapshot(spark, dir)
    val bTouched = before.keySet.filterNot(bk => after.get(bk) == before.get(bk))
    bTouched.size should be <= 2 // only buckets b/zz hash into changed
    // pre-delete snapshot still pinnable
    KeyedUpsert.read(spark, dir, version = Some(1L)).count() shouldBe 4
    KeyedUpsert.versions(spark, dir) shouldBe Seq(1L, 2L)
  }

  test("an empty snapshot whose non-empty versions were vacuumed reads as zero rows") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir, Seq(("solo", 1)).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    KeyedUpsert.delete(spark, dir, Seq("solo").toDF("k"), Seq("k"),
      numBuckets = 4, retainVersions = 1)
    KeyedUpsert.versions(spark, dir) shouldBe Seq(2L)
    val out = KeyedUpsert.read(spark, dir)
    out.count() shouldBe 0L
    out.schema.map(f => (f.name, f.dataType)) shouldBe
      Seq(("k", StringType), ("v", IntegerType))
  }

  test("delete that empties a bucket removes it from the manifest") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir, Seq(("solo", 1)).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    KeyedUpsert.snapshot(spark, dir).size shouldBe 1
    KeyedUpsert.delete(spark, dir, Seq("solo").toDF("k"), Seq("k"),
      numBuckets = 4)
    KeyedUpsert.snapshot(spark, dir) shouldBe empty
    KeyedUpsert.read(spark, dir).count() shouldBe 0
  }

  test("compact rewrites the snapshot to one file per bucket, data intact") {
    val dir = tmp("upsert")
    for (i <- 1 to 4)
      KeyedUpsert.upsert(spark, dir,
        (i * 100 until i * 100 + 50).map(j => (s"k$j", j)).toDF("k", "v"),
        Seq("k"), numBuckets = 4)
    // a one-key upsert remaps only its bucket: the live buckets now span
    // two commit dirs
    KeyedUpsert.upsert(spark, dir, Seq(("solo", 1)).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    val before = KeyedUpsert.read(spark, dir).as[(String, Int)].collect().toSet
    commitDirs(dir) should be > 1
    KeyedUpsert.compact(spark, dir, sortCols = Seq("k"))
    val after = KeyedUpsert.read(spark, dir)
    after.as[(String, Int)].collect().toSet shouldBe before
    after.inputFiles.length shouldBe KeyedUpsert.snapshot(spark, dir).size
    // every live dir now points at the single compaction commit
    commitDirs(dir) shouldBe 1
  }

  test("bucket files are written sorted by key (row-group skip layout)") {
    val dir = tmp("upsert")
    val rows = (1 to 2000).map(i => (f"k$i%05d", i))
    KeyedUpsert.upsert(spark, dir, rows.toDF("k", "v"), Seq("k"),
      numBuckets = 4)
    val files = KeyedUpsert.read(spark, dir).inputFiles
    files should not be empty
    files.foreach { f =>
      val ks = spark.read.parquet(f).select("k").as[String].collect()
      withClue(s"$f: ") { ks.toSeq shouldBe ks.toSeq.sorted }
    }
  }

  test("concurrent writers never corrupt the chain; a loser fails loudly") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir, Seq(("seed", 0)).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    // two writers race from the same observed version; the manifest
    // rename is the commit point, so either they serialize (both land)
    // or the loser's rename fails loudly — never a corrupt chain
    val attempts = Seq("a", "b").map { key =>
      Future(scala.util.Try(KeyedUpsert.upsert(spark, dir,
        Seq((key, 1)).toDF("k", "v"), Seq("k"), numBuckets = 4)))
    }
    val results = Await.result(Future.sequence(attempts), 120.seconds)
    val winners = results.count(_.isSuccess)
    winners should be >= 1
    // a loser must fail LOUDLY (the Try is a Failure) — usually with
    // the manifest "concurrent commit" race, but same-JVM concurrent
    // local-FS write jobs can also die earlier in the data-staging
    // phase (Hadoop _temporary chmod race). Either way the contract
    // below is what matters: no silent loss, no phantom commit — the
    // version chain stays consecutive and every winner's row landed.
    results.filter(_.isFailure).foreach { f =>
      f.failed.get.getMessage should not be empty
    }
    // chain is consecutive and readable; every winner's key is present
    val vs = KeyedUpsert.versions(spark, dir)
    vs shouldBe (1L to (1 + winners)).toSeq
    val keys = KeyedUpsert.read(spark, dir).select("k").as[String]
      .collect().toSet
    keys should contain("seed")
    (keys - "seed").size shouldBe winners
  }

  test("upsert refuses to initialize over an unmanaged legacy layout") {
    val dir = tmp("upsert") + "/t"
    // a pre-manifest table: data present, no _manifests/ chain
    Seq(("a", 1)).toDF("k", "v").withColumn("__bucket", lit(0L))
      .write.partitionBy("__bucket").parquet(dir)
    val e = intercept[IllegalStateException] {
      KeyedUpsert.upsert(spark, dir,
        Seq(("b", 2)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    }
    e.getMessage should include("unmanaged/legacy")
    // and nothing was committed — the legacy data is untouched
    KeyedUpsert.versions(spark, dir) shouldBe empty
  }

  test("reading a vacuumed version fails with a named earliest version") {
    val dir = tmp("upsert")
    for (i <- 1 to 5)
      KeyedUpsert.upsert(spark, dir,
        Seq((s"k$i", i)).toDF("k", "v"), Seq("k"), numBuckets = 4,
        retainVersions = 2)
    val e = intercept[IllegalArgumentException] {
      KeyedUpsert.read(spark, dir, version = Some(1L))
    }
    e.getMessage should (include("vacuumed") and include("earliest available is 4"))
    val e2 = intercept[IllegalArgumentException] {
      KeyedUpsert.changesSince(spark, dir, 1L)
    }
    e2.getMessage should include("earliest available is 4")
  }

  test("vacuum keeps the newest retainVersions and reclaims the rest") {
    val dir = tmp("upsert")
    for (i <- 1 to 5)
      KeyedUpsert.upsert(spark, dir,
        Seq((s"k$i", i)).toDF("k", "v"), Seq("k"), numBuckets = 4,
        retainVersions = 2)
    KeyedUpsert.versions(spark, dir) shouldBe Seq(4L, 5L)
    KeyedUpsert.read(spark, dir).count() shouldBe 5
    // pinned reads inside the retained window still work
    KeyedUpsert.read(spark, dir, version = Some(4L)).count() shouldBe 4
  }

  test("every commit writes one file per touched bucket, however spread the batch") {
    val dir = tmp("upsert")
    def batch(lo: Int, hi: Int, ts: Int) =
      (lo until hi).map(k => (k, ts, s"v$k")).toDF("k", "ts", "v").repartition(8)
    KeyedUpsert.upsert(spark, dir, batch(0, 400, 1), Seq("k"), numBuckets = 8)
    all(filesPerBucket(dir).values) shouldBe 1
    KeyedUpsert.upsert(spark, dir, batch(200, 600, 2), Seq("k"), numBuckets = 8)
    all(filesPerBucket(dir).values) shouldBe 1
    KeyedUpsert.upsert(spark, dir, batch(100, 500, 3), Seq("k"), numBuckets = 8,
      tieBreak = Some("ts"), keepMaxOnMerge = true)
    all(filesPerBucket(dir).values) shouldBe 1
    // a key set too large to broadcast: the anti-join shuffles by key
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try KeyedUpsert.delete(spark, dir, (0 until 600 by 3).toDF("k").repartition(8),
      Seq("k"), numBuckets = 8)
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    all(filesPerBucket(dir).values) shouldBe 1
    filesPerBucket(dir).size shouldBe 8
    KeyedUpsert.history(spark, dir).map(_.filesWritten) shouldBe
      Seq(8L, 8L, 8L, 8L)
    KeyedUpsert.read(spark, dir).count() shouldBe 400L
    // commit dirs hold bucket dirs only: no _SUCCESS marker or its .crc
    for (c <- new java.io.File(s"$dir/data").listFiles(); f <- c.listFiles()) {
      f.getName should startWith("__bucket=")
      f.isDirectory shouldBe true
    }
  }

  test("merge matches a Map fold over seeded random batches, replay idempotent") {
    for (keepMax <- Seq(false, true)) {
      val dir = tmp("upsert")
      val rng = new scala.util.Random(42)
      var model = Map.empty[Int, (Int, String)]
      val batches = (1 to 6).map { b =>
        // 30 keys over 4 buckets: keys collide in every bucket; a key
        // repeats in a batch with distinct tieBreaks, and equal
        // tieBreaks recur ACROSS batches
        (1 to 40).map(i => (rng.nextInt(30), rng.nextInt(12), s"b$b-r$i"))
          .groupBy(r => (r._1, r._2)).values.map(_.head).toSeq
      }
      def upsert(rows: Seq[(Int, Int, String)]): Unit =
        KeyedUpsert.upsert(spark, dir, rows.toDF("k", "ts", "v").repartition(3),
          Seq("k"), numBuckets = 4, tieBreak = Some("ts"),
          keepMaxOnMerge = keepMax)
      batches.foreach { rows =>
        upsert(rows)
        rows.groupBy(_._1).foreach { case (k, rs) =>
          val top = rs.maxBy(_._2)
          // incoming wins unless keepMax and the live row is strictly newer
          if (!keepMax || model.get(k).forall(_._1 <= top._2))
            model += k -> ((top._2, top._3))
        }
        withClue(s"keepMaxOnMerge=$keepMax: ") { contents(dir) shouldBe model }
      }
      upsert(batches.last) // replay of the last batch changes nothing
      withClue(s"keepMaxOnMerge=$keepMax replay: ") { contents(dir) shouldBe model }
      for ((k, (t, v)) <- model) withClue(s"keepMaxOnMerge=$keepMax lookup $k: ") {
        bothPaths(dir, $"k" === k) shouldBe Seq(Row(k, t, v).toString)
      }
    }
  }

  test("keepMaxOnMerge: an incoming row with an equal tieBreak wins") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir, Seq((1, 5, "old")).toDF("k", "ts", "v"),
      Seq("k"), numBuckets = 4, tieBreak = Some("ts"), keepMaxOnMerge = true)
    KeyedUpsert.upsert(spark, dir, Seq((1, 5, "new")).toDF("k", "ts", "v"),
      Seq("k"), numBuckets = 4, tieBreak = Some("ts"), keepMaxOnMerge = true)
    contents(dir) shouldBe Map(1 -> ((5, "new")))
  }

  test("an upsert onto live rows plans one shuffle and no broadcast") {
    import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      (0 until 100).map(k => (k, 1)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val helper = new AdaptiveSparkPlanHelper {}
    def nodes(p: SparkPlan): Seq[SparkPlan] = helper.collect(p) {
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case n => Seq(n)
    }.flatten
    def isWrite(p: SparkPlan) = nodes(p).exists(_.isInstanceOf[DataWritingCommandExec])
    // with and without AQE: a streaming foreachBatch sink runs without it
    for (aqe <- Seq("true", "false")) {
      plans.clear()
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.listenerManager.register(listener)
      try {
        KeyedUpsert.upsert(spark, dir,
          (50 until 150).map(k => (k, 2)).toDF("k", "v").repartition(3),
          Seq("k"), numBuckets = 4)
        val deadline = System.currentTimeMillis() + 30000
        while (!plans.toArray.exists(p => isWrite(p.asInstanceOf[SparkPlan])) &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
      } finally {
        spark.listenerManager.unregister(listener)
        spark.conf.unset("spark.sql.adaptive.enabled")
      }
      val write = plans.toArray.map(_.asInstanceOf[SparkPlan]).filter(isWrite)
      write should not be empty
      write.foreach { p =>
        val ns = nodes(p)
        withClue(s"AQE $aqe: ${p.treeString}") {
          ns.count(_.isInstanceOf[ShuffleExchangeExec]) shouldBe 1
          ns.count(_.isInstanceOf[BroadcastExchangeExec]) shouldBe 0
        }
      }
    }
    KeyedUpsert.read(spark, dir).count() shouldBe 150L
  }

  /** A table whose key sits between columns of every storage-relevant
    * type, some nullable, run through MERGE (twice: the second onto live
    * rows), DELETE, OPTIMIZE, RESTORE and a MERGE that vacuums all but
    * its own version, with `check(dir, version)` after each commit. */
  private def afterEachOperation(check: (String, Long) => Unit): Unit = {
    val schema = StructType(Seq(
      StructField("amount", DecimalType(18, 2)),
      StructField("at", TimestampType, nullable = false),
      StructField("id", IntegerType, nullable = false),
      StructField("day", DateType),
      StructField("blob", BinaryType),
      StructField("name", StringType),
      StructField("tags", ArrayType(StringType, containsNull = true)),
      StructField("attrs", MapType(StringType, LongType, valueContainsNull = false)),
      StructField("loc", StructType(Seq(
        StructField("lat", DoubleType, nullable = false),
        StructField("label", StringType))))))
    def rows(ids: Range, gen: Int): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map { i =>
        Row(if (i % 5 == 0) null else new java.math.BigDecimal(s"$i$gen.25"),
          java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 10:00:0$gen"),
          i,
          if (i % 7 == 0) null else java.sql.Date.valueOf(f"2024-02-${i % 28 + 1}%02d"),
          Array[Byte](i.toByte, gen.toByte),
          if (i % 3 == 0) null else s"n$i-$gen",
          Seq(s"t$i", null),
          Map(s"a$gen" -> i.toLong),
          Row(i * 0.5, if (i % 2 == 0) null else s"l$i"))
      }, 2), schema)
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir, rows(0 until 40, 1), Seq("id"), numBuckets = 4)
    check(dir, 1L)
    KeyedUpsert.upsert(spark, dir, rows(30 until 50, 2), Seq("id"), numBuckets = 4)
    check(dir, 2L)
    // two keys leave at least two buckets untouched: the live dirs mix
    // commits, and the oldest one is what inference reads
    KeyedUpsert.delete(spark, dir, Seq(3, 7).toDF("id"), Seq("id"),
      numBuckets = 4)
    check(dir, 3L)
    KeyedUpsert.compact(spark, dir, sortCols = Seq("id"))
    check(dir, 4L)
    KeyedUpsert.restore(spark, dir, 2L)
    check(dir, 5L)
    KeyedUpsert.upsert(spark, dir, rows(45 until 55, 3), Seq("id"), numBuckets = 4,
      retainVersions = 1)
    KeyedUpsert.versions(spark, dir) shouldBe Seq(6L)
    check(dir, 6L)
  }

  test("resolving a snapshot runs no Spark job after MERGE, DELETE, OPTIMIZE, RESTORE") {
    afterEachOperation { (dir, v) =>
      withClue(s"version $v: ") {
        jobsIn {
          KeyedUpsert.read(spark, dir)
          KeyedUpsert.read(spark, dir, Some(v))
        } shouldBe 0
      }
    }
  }

  test("an upsert or delete with other keys or bucket count fails, table unchanged") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1, 1), ("b", 2, 2)).toDF("k", "j", "v"), Seq("k"), numBuckets = 8)
    def state() = (KeyedUpsert.versions(spark, dir),
      KeyedUpsert.snapshot(spark, dir),
      KeyedUpsert.read(spark, dir).as[(String, Int, Int)].collect().toSet)
    val before = state()
    // numBuckets 16 would leave "a" live twice: bucket a%8 and bucket a%16
    val calls = Seq[(String, () => Unit)](
      "upsert numBuckets" -> (() => KeyedUpsert.upsert(spark, dir,
        Seq(("a", 1, 9)).toDF("k", "j", "v"), Seq("k"), numBuckets = 16)),
      "upsert keys" -> (() => KeyedUpsert.upsert(spark, dir,
        Seq(("a", 1, 9)).toDF("k", "j", "v"), Seq("k", "j"), numBuckets = 8)),
      "delete numBuckets" -> (() => KeyedUpsert.delete(spark, dir,
        Seq("a").toDF("k"), Seq("k"), numBuckets = 16)))
    for ((name, call) <- calls) withClue(s"$name: ") {
      intercept[IllegalArgumentException](call()).getMessage should
        include("keys=k numBuckets=8")
      state() shouldBe before
    }
  }

  /** Rows and the `numFiles` metric of one collected query, read on
    * the driver or by Spark's scan. */
  private def scanned(df: DataFrame): (Seq[String], Long) = {
    val rows = sortedRows(df)
    val files = planNodes(df).collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
      case d: DriverScanExec => d.metrics("numFiles").value
    }
    (rows, files.sum)
  }

  test("a full-key lookup reads one bucket; any other filter reads every live file") {
    val dir = tmp("upsert")
    val rng = new scala.util.Random(7)
    // 5 x 6 (s, n) keys over 4 buckets: every bucket holds several keys
    def batch(b: Int) = (1 to 24).map(_ =>
      (s"u${rng.nextInt(5)}", rng.nextInt(6).toLong, s"b$b-${rng.nextInt(1000)}"))
      .groupBy(r => (r._1, r._2)).values.map(_.head).toSeq
    val batches = Seq(batch(1), batch(2))
    batches.foreach(rows => KeyedUpsert.upsert(spark, dir,
      rows.toDF("s", "n", "v"), Seq("s", "n"), numBuckets = 4))
    val model = batches.flatten.map(r => (r._1, r._2) -> r._3).toMap
    model.size should be > 4 * 2
    def live() = KeyedUpsert.snapshot(spark, dir).values.toSeq.sorted
      .map(rel => s"$dir/$rel")
    def lookup(s: String, n: Long) = $"s" === s && $"n" === n
    val bound = math.min(spark.conf.get("spark.sql.files.maxPartitionBytes").toLong,
      DriverScan.MaxBytes)
    /** Each filter reads `files` files, and the rows a plain parquet
      * read of the live dirs returns under the same filter. */
    def check(cells: Seq[(String, org.apache.spark.sql.Column, Long)]): Unit = {
      val reference = spark.read.parquet(live(): _*)
      for ((name, f, files) <- cells) withClue(s"$name: ") {
        val df = KeyedUpsert.read(spark, dir).filter(f)
        val (rows, read) = scanned(df)
        rows shouldBe scanned(reference.filter(f))._1
        read shouldBe files
        // served on the driver exactly when the files Spark's scan reads
        // are at most the bounds, with Spark's rows
        val scan = KeyedUpsert.read(scanOnly, dir).filter(f)
        rows shouldBe sortedRows(scan)
        val bytes = planNodes(scan).collect {
          case s: FileSourceScanExec => s.metrics("filesSize").value
        }.sum
        bytes should be > 0L
        driverServed(df) shouldBe (bytes <= bound && read <= DriverScan.MaxFiles)
      }
    }
    def allKeys(when: String): Unit = {
      check(model.keys.toSeq.sorted.map { case (s, n) =>
        (s"$when ($s, $n)", lookup(s, n), 1L) })
      for (((s, n), v) <- model)
        KeyedUpsert.read(spark, dir).filter(lookup(s, n))
          .select("v").as[String].collect().toSeq shouldBe Seq(v)
    }
    allKeys("latest")
    val all = live().size.toLong
    all shouldBe 4L
    val ((s1, n1), (s2, n2)) = (model.keys.min, model.keys.max)
    check(Seq(
      ("partial key", $"s" === s1, all),
      ("or", lookup(s1, n1) || lookup(s2, n2), all),
      ("null-safe null", $"s" <=> lit(null).cast("string") && $"n" === n1, all),
      ("cast", $"s" === s1 && $"n" === lit(n1.toDouble), all)))
    // absent keys read at most their own bucket and return nothing
    check(Seq(("absent", lookup("zz", 99L), 1L)))
    KeyedUpsert.compact(spark, dir, sortCols = Seq("s", "n"))
    allKeys("after compact")
    KeyedUpsert.restore(spark, dir, 1L)
    val v1 = batches.head.map(r => (r._1, r._2) -> r._3).toMap
    check(v1.keys.toSeq.map { case (s, n) => (s"after restore ($s, $n)", lookup(s, n), 1L) })
  }

  test("a double key column never prunes") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      Seq((0.0, 1), (-0.0, 2), (1.5, 3), (Double.NaN, 4), (2.5, 5)).toDF("d", "v"),
      Seq("d"), numBuckets = 4)
    val live = KeyedUpsert.snapshot(spark, dir).values.toSeq
    val reference = spark.read.parquet(live.map(rel => s"$dir/$rel"): _*)
    for (d <- Seq(0.0, -0.0, 1.5, Double.NaN)) withClue(s"d = $d: ") {
      val (rows, files) = scanned(KeyedUpsert.read(spark, dir).filter($"d" === d))
      rows shouldBe scanned(reference.filter($"d" === d))._1
      rows should not be empty
      files shouldBe live.size.toLong
    }
  }

  test("a driver-served lookup starts no job and reads what Spark's scan reads") {
    // every storage-relevant type, after each kind of commit, latest and pinned
    afterEachOperation { (dir, v) =>
      for (id <- Seq(0, 3, 7, 31, 45, 99)) withClue(s"version $v id $id: ") {
        bothPaths(dir, $"id" === id) shouldBe
          bothPaths(dir, $"id" === id, Some(v))
      }
    }
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      (0 until 200).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    def lookup(k: Int) = KeyedUpsert.read(spark, dir).filter($"k" === k)
    jobsIn(lookup(42).collect()) shouldBe 0
    jobsIn(lookup(42).head()) shouldBe 0 // under a limit, via executeTake
    bothPaths(dir, $"k" === 42) shouldBe Seq("[42,v42]")
    bothPaths(dir, $"k" === 1000) shouldBe empty // absent: its bucket, no row
    // the path taken and why, in metrics and in the plan string
    val df = lookup(42).select("v")
    df.collect().map(_.getString(0)).toSeq shouldBe Seq("v42")
    val exec = driverExec(df)
    val bytes = new java.io.File(dir, KeyedUpsert.snapshot(spark, dir)(exec.bucket.get))
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    Seq("numFiles", "numOutputRows", "bytes").map(exec.metrics(_).value) shouldBe
      Seq(1L, 1L, bytes)
    exec.simpleString(10) should include(
      s"DriverScan bucket=${exec.bucket.get} files=1 <= maxFiles=8 " +
        s"bytes=$bytes <= maxBytes=524288")
    // under an aggregate, Spark's scan: only a root collect or take is
    // read on the driver
    lookup(42).count() shouldBe 1L
    val agg = lookup(42).groupBy().count()
    agg.collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    driverServed(agg) shouldBe false
    planNodes(agg).exists(_.isInstanceOf[FileSourceScanExec]) shouldBe true
    jobsIn(lookup(42).count()) should be > 0 // the guard sees jobs
    // a bucket over maxPartitionBytes stays on Spark's scan
    val key = "spark.sql.files.maxPartitionBytes"
    val bound = spark.conf.get(key)
    spark.conf.set(key, (bytes - 1).toString)
    try {
      val over = lookup(42)
      sortedRows(over) shouldBe Seq("[42,v42]")
      driverServed(over) shouldBe false
      planNodes(over).exists(_.isInstanceOf[FileSourceScanExec]) shouldBe true
    } finally spark.conf.set(key, bound)
  }

  test("a range read over every live file runs on the driver, and on Spark's scan above either bound") {
    import graft.pipeline.Medallion
    // hour partials as runHourPartials keys them: `id` over the grain's
    // columns, 3 remotes x 48 hours x 2 metrics over 4 buckets
    val day = 86400L
    def partials(remotes: Seq[Long], gen: Int): DataFrame =
      (for (r <- remotes; h <- 0 until 48; m <- 1 to 2) yield
        (h * 3600L, r, m, (r % 2).toInt, m + 1,
          BigDecimal(r * 1000 + h * 10 + m + gen) / 4, (h % 5 + gen).toLong,
          BigDecimal(h) / 2, BigDecimal(h + gen)))
        .toDF("bucket_ts", "remote_id", "metric_id", "provider_id",
          "category_id", "dec_sum", "n", "dec_min", "dec_max")
        .withColumn("id", graft.functions.Fns.servingId($"remote_id",
          $"bucket_ts", $"metric_id", $"provider_id", $"category_id"))
    def range(s: org.apache.spark.sql.SparkSession, dir: String,
        version: Option[Long], r: Long, d: Long): DataFrame =
      Medallion.finalizeRollup(KeyedUpsert.read(s, dir, version).filter(
        $"remote_id" === r && $"bucket_ts" >= d * day && $"bucket_ts" < (d + 1) * day))
    val dir = tmp("upsert")
    def check(v: Long): Unit = for (version <- Seq(None, Some(v));
        r <- Seq(1L, 2L, 9L); d <- Seq(0L, 1L)) withClue(s"v$v $version r$r d$d: ") {
      val df = range(spark, dir, version, r, d)
      var rows = Seq.empty[String]
      jobsIn { rows = sortedRows(df) } shouldBe 0
      driverServed(df) shouldBe true
      rows shouldBe sortedRows(range(scanOnly, dir, version, r, d))
      if (r != 9L && KeyedUpsert.read(spark, dir, version)
          .filter($"remote_id" === r).count() > 0) rows should not be empty
    }
    val upsert = (df: DataFrame) =>
      KeyedUpsert.upsert(spark, dir, df, Seq("id"), numBuckets = 4)
    upsert(partials(Seq(1L, 2L), 1))
    check(1L)
    upsert(partials(Seq(2L, 3L), 2)) // onto live rows
    check(2L)
    KeyedUpsert.delete(spark, dir, partials(Seq(1L), 1).select("id"), Seq("id"),
      numBuckets = 4)
    check(3L)
    KeyedUpsert.compact(spark, dir, sortCols = Seq("id"))
    check(4L)
    KeyedUpsert.restore(spark, dir, 2L)
    check(5L)
    // the path taken and why: no fixed bucket, every live file, its bytes
    def liveFiles(d: String) = KeyedUpsert.snapshot(spark, d).values.toSeq
      .flatMap(rel => new java.io.File(d, rel).listFiles())
      .filter(_.getName.endsWith(".parquet"))
    val live = liveFiles(dir)
    live.size shouldBe 4
    val bytes = live.map(_.length).sum
    val df = range(spark, dir, None, 2L, 1L)
    val n = df.collect().length
    n should be > 0
    val exec = driverExec(df)
    exec.bucket shouldBe None
    Seq("numFiles", "numOutputRows", "bytes").map(exec.metrics(_).value) shouldBe
      Seq(4L, n.toLong, bytes)
    exec.simpleString(10) should include(
      s"DriverScan buckets=all files=4 <= maxFiles=8 bytes=$bytes <= maxBytes=524288")
    // one byte over the bound: Spark's scan, the same rows
    val key = "spark.sql.files.maxPartitionBytes"
    val bound = spark.conf.get(key)
    spark.conf.set(key, (bytes - 1).toString)
    try {
      val over = range(spark, dir, None, 2L, 1L)
      sortedRows(over) shouldBe sortedRows(df)
      driverServed(over) shouldBe false
      planNodes(over).exists(_.isInstanceOf[FileSourceScanExec]) shouldBe true
    } finally spark.conf.set(key, bound)
    // one file over the file cap, far under the byte bound: Spark's scan
    val wide = tmp("upsert")
    KeyedUpsert.upsert(spark, wide, partials(Seq(1L, 2L, 3L), 1), Seq("id"),
      numBuckets = DriverScan.MaxFiles + 1)
    KeyedUpsert.snapshot(spark, wide).size shouldBe DriverScan.MaxFiles + 1
    val many = range(spark, wide, None, 2L, 1L)
    sortedRows(many) shouldBe sortedRows(range(scanOnly, wide, None, 2L, 1L))
    sortedRows(many) should not be empty
    driverServed(many) shouldBe false
    planNodes(many).exists(_.isInstanceOf[FileSourceScanExec]) shouldBe true
    // over MaxBytes under Spark's default maxPartitionBytes: Spark's scan
    val big = tmp("upsert")
    KeyedUpsert.upsert(spark, big, partials(1L to 400L, 1), Seq("id"), numBuckets = 4)
    liveFiles(big).map(_.length).sum should be > DriverScan.MaxBytes
    spark.conf.set(key, (128L << 20).toString)
    try {
      val over = range(spark, big, None, 2L, 1L)
      sortedRows(over) shouldBe sortedRows(range(scanOnly, big, None, 2L, 1L))
      driverServed(over) shouldBe false
      planNodes(over).exists(_.isInstanceOf[FileSourceScanExec]) shouldBe true
    } finally spark.conf.set(key, bound)
  }

  test("an unfiltered driver read keeps every row; head and take stop at the file that fills them") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      (0 until 200).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    val all = KeyedUpsert.read(spark, dir)
    jobsIn(all.collect()) shouldBe 0
    driverServed(all) shouldBe true
    sortedRows(all) shouldBe sortedRows(KeyedUpsert.read(scanOnly, dir))
    all.collect().length shouldBe 200
    var first: Option[Row] = None
    jobsIn { first = Some(KeyedUpsert.read(spark, dir).head()) } shouldBe 0
    first should not be empty
    // rows per live file, in the order the exec opens them (by bucket)
    val perFile = KeyedUpsert.snapshot(spark, dir).toSeq.sortBy(_._1)
      .map { case (_, rel) => spark.read.parquet(s"$dir/$rel").count() }
    perFile.size shouldBe 4
    val cumulative = perFile.scanLeft(0L)(_ + _).tail
    for (n <- Seq(1, perFile.head.toInt, perFile.head.toInt + 1, 200, 250))
      withClue(s"limit $n: ") {
        val df = KeyedUpsert.read(spark, dir).limit(n)
        var rows = Array.empty[Row]
        jobsIn { rows = df.collect() } shouldBe 0
        rows.length shouldBe math.min(n, 200)
        val exec = driverExec(df)
        val opened = cumulative.indexWhere(_ >= n) match {
          case -1 => 4
          case i => i + 1
        }
        exec.metrics("numFiles").value shouldBe opened.toLong
        exec.metrics("numOutputRows").value shouldBe rows.length.toLong
      }
    // a fully-deleted snapshot: zero rows of the recorded schema
    KeyedUpsert.delete(spark, dir, (0 until 200).toDF("k"), Seq("k"), numBuckets = 4)
    KeyedUpsert.snapshot(spark, dir) shouldBe empty
    val none = KeyedUpsert.read(spark, dir)
    jobsIn(none.collect() shouldBe empty) shouldBe 0
    driverServed(none) shouldBe true
    none.schema.map(f => (f.name, f.dataType)) shouldBe
      Seq(("k", IntegerType), ("v", StringType))
    none.count() shouldBe 0L
  }

  /** `numFiles` and `cachedFiles` of `df` read on the driver, collected. */
  private def fileCounts(df: DataFrame): (Long, Long) = {
    df.collect()
    val e = driverExec(df)
    (e.metrics("numFiles").value, e.metrics("cachedFiles").value)
  }

  test("a repeat driver read is served from the cache; after an upsert only its bucket misses") {
    val dir = tmp("upsert")
    def upsert(ks: Seq[Int], gen: Int): Unit = KeyedUpsert.upsert(spark, dir,
      ks.map(k => (k, s"v$k-$gen")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    upsert(0 until 100, 1)
    def all() = KeyedUpsert.read(spark, dir)
    // a take that stops inside a file it missed on caches nothing
    fileCounts(all().limit(1)) shouldBe ((1L, 0L))
    fileCounts(all().limit(1)) shouldBe ((1L, 0L))
    fileCounts(all()) shouldBe ((4L, 0L))
    fileCounts(all()) shouldBe ((4L, 4L))
    fileCounts(all().limit(1)) shouldBe ((1L, 1L))
    fileCounts(all().filter($"k" === 42).select("v")) shouldBe ((1L, 1L))
    upsert(Seq(42), 2) // one key: one bucket rewritten
    fileCounts(all()) shouldBe ((4L, 3L))
    fileCounts(all()) shouldBe ((4L, 4L))
    fileCounts(KeyedUpsert.read(spark, dir, Some(1L))) shouldBe ((4L, 4L))
    all().filter($"k" === 42).select("v").as[String].collect().toSeq shouldBe Seq("v42-2")
    // the rows a read returns are copies: changing them leaves the cache intact
    val want = sortedRows(KeyedUpsert.read(scanOnly, dir))
    want.size shouldBe 100
    val rows = driverExec(all()).executeCollect()
    rows.length shouldBe 100
    rows.foreach(_.setInt(0, -1))
    sortedRows(all()) shouldBe want
  }

  test("a cached driver read equals Spark's scan after every operation; a warm one opens no data file") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    val queries = Seq[(String, DataFrame => DataFrame)](
      "all" -> (df => df),
      "key" -> (_.filter($"id" === 31)),
      "non-key" -> (_.filter($"name".isNotNull && $"id" > 10).select("name", "blob", "id")))
    afterEachOperation { (local, v) =>
      val dir = "countfs://" + local
      for (version <- Seq(None, Some(v)); (name, q) <- queries; pass <- Seq("cold", "warm"))
        withClue(s"version $v $version $name $pass: ") {
          val df = q(KeyedUpsert.read(spark, dir, version))
          var rows = Seq.empty[String]
          CountingFs.reset()
          jobsIn { rows = sortedRows(df) } shouldBe 0
          val opens = CountingFs.dataFileOpens.get
          val e = driverExec(df)
          val (files, cached) = (e.metrics("numFiles").value, e.metrics("cachedFiles").value)
          files should be > 0L
          (opens > 0) shouldBe (cached < files)
          if (pass == "warm") (opens, cached) shouldBe ((0, files))
          rows shouldBe sortedRows(q(KeyedUpsert.read(scanOnly, dir, version)))
        }
    }
  }

  test("driver reads beside a concurrent writer equal Spark's scan of the version each resolved") {
    import scala.jdk.CollectionConverters._
    val dir = tmp("upsert")
    def batch(gen: Int) = (0 until 60).filter(k => gen == 0 || k % 6 == gen % 6)
      .map(k => (k, gen, s"v$k-$gen")).toDF("k", "g", "v")
    KeyedUpsert.upsert(spark, dir, batch(0), Seq("k"), numBuckets = 4)
    val queries = Seq[DataFrame => DataFrame](df => df, _.filter($"k" === 7),
      _.filter($"g" > 0).select("v"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Boolean, Seq[String])]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (0 until 2).map { i =>
      val t = new Thread(() => try {
        var n = 0
        while (!stop.get) {
          val q = (i + n) % queries.size
          n += 1
          val v = KeyedUpsert.versions(spark, dir).last
          val df = queries(q)(KeyedUpsert.read(spark, dir, Some(v)))
          seen.add((q, v, driverServed(df), sortedRows(df)))
        }
      } catch { case e: Throwable => errors.add(e) }, s"reader-$i")
      t.start()
      t
    }
    try for (gen <- 1 to 6)
      KeyedUpsert.upsert(spark, dir, batch(gen), Seq("k"), numBuckets = 4)
    finally {
      stop.set(true)
      readers.foreach(_.join())
    }
    errors.asScala.toSeq shouldBe empty
    val reads = seen.asScala.toSeq
    reads.map(_._2).distinct.size should be > 1
    val reference = reads.map(r => (r._1, r._2)).distinct.map { case (q, v) =>
      (q, v) -> sortedRows(queries(q)(KeyedUpsert.read(scanOnly, dir, Some(v))))
    }.toMap
    for ((q, v, served, rows) <- reads) withClue(s"query $q version $v: ") {
      served shouldBe true
      rows shouldBe reference((q, v))
    }
  }

  test("a changed reader conf misses the cache and keeps the entry of the old conf") {
    val dir = tmp("upsert")
    KeyedUpsert.upsert(spark, dir,
      (0 until 50).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    def read() = KeyedUpsert.read(spark, dir)
    val want = sortedRows(KeyedUpsert.read(scanOnly, dir))
    fileCounts(read()) shouldBe ((4L, 0L))
    for ((key, value) <- Seq("spark.sql.session.timeZone" -> "America/Los_Angeles",
        "spark.sql.parquet.int96RebaseModeInRead" -> "LEGACY")) withClue(s"$key: ") {
      fileCounts(read()) shouldBe ((4L, 4L))
      val before = spark.conf.get(key)
      spark.conf.set(key, value)
      try {
        fileCounts(read()) shouldBe ((4L, 0L))
        fileCounts(read()) shouldBe ((4L, 4L))
        sortedRows(read()) shouldBe want
      } finally spark.conf.set(key, before)
      fileCounts(read()) shouldBe ((4L, 4L))
    }
  }

  test("the decoded-file cache stays within its byte budget and decodes an evicted file again") {
    import graft.sinks.DecodedFiles
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
    import org.apache.spark.unsafe.types.UTF8String
    val toUnsafe = UnsafeProjection.create(Array[DataType](IntegerType, StringType))
    def rowsOf(file: Int, n: Int = 100): Array[UnsafeRow] = (0 until n).map(j =>
      toUnsafe(InternalRow(j, UTF8String.fromString(s"f$file-r$j"))).copy()).toArray
    def show(rows: Array[UnsafeRow]) =
      rows.map(r => (r.getInt(0), r.getUTF8String(1).toString)).toSeq
    val perFile = DecodedFiles.weigh(rowsOf(0))
    val budget = 3 * perFile + perFile / 2 // room for three files
    val cache = new DecodedFiles(budget)
    val schema = new StructType().add("j", IntegerType).add("s", StringType)
    def key(file: Int) = DecodedFiles.Key(s"file:/t/f$file.parquet", 1000L + file, 0L,
      schema, Map.empty, Seq("tz" -> "UTC"))
    var decodes = 0
    def load(file: Int, n: Int = 100) = cache.load(key(file)) {
      decodes += 1
      rowsOf(file, n)
    }
    def held(files: Seq[Int]) = files.map(f => cache.cached(key(f)).isDefined)
    for (f <- 0 until 10) withClue(s"file $f: ") {
      val (rows, hit) = load(f)
      hit shouldBe false
      show(rows) shouldBe show(rowsOf(f))
      cache.bytes should be <= budget
    }
    decodes shouldBe 10
    cache.bytes shouldBe 3 * perFile
    held(0 until 10) shouldBe (0 until 10).map(_ >= 7) // in recency order 7, 8, 9
    held(Seq(7)) shouldBe Seq(true) // 7 is now the most recently used: 10 evicts 8
    load(10)._2 shouldBe false
    held(7 to 10) shouldBe Seq(true, false, true, true)
    // an evicted file decodes again, whole
    val (again, hit) = load(0)
    hit shouldBe false
    decodes shouldBe 12
    show(again) shouldBe show(rowsOf(0))
    load(0)._2 shouldBe true
    decodes shouldBe 12
    cache.bytes should be <= budget
    // a file heavier than the whole budget is returned and never held
    val (big, bigHit) = load(99, 400)
    bigHit shouldBe false
    show(big) shouldBe show(rowsOf(99, 400))
    held(Seq(99)) shouldBe Seq(false)
    cache.bytes should be <= budget
  }

  test("a crash inside vacuum leaves every listed version readable or named vacuumed") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.delcrashfs.impl", classOf[DeleteCrashingFs].getName)
    val arms = Seq[(String, org.apache.hadoop.fs.Path => Boolean)](
      "manifest delete" -> (_.getParent.getName == "_manifests"),
      "data-dir delete" -> (_.getParent.getName == "data"))
    for ((name, arm) <- arms) withClue(s"$name: ") {
      val local = tmp("upsert")
      val dir = "delcrashfs://" + local
      // every commit rewrites all four buckets: a vacuum's expired
      // version references only dirs the latest one does not
      def upsert(v: Int): Unit = KeyedUpsert.upsert(spark, dir,
        (0 until 20).map(k => (k, v)).toDF("k", "v"), Seq("k"),
        numBuckets = 4, retainVersions = 1)
      upsert(1)
      upsert(2)
      DeleteCrashingFs.armed = Some(arm)
      intercept[java.io.IOException](upsert(3))
      DeleteCrashingFs.armed shouldBe None
      KeyedUpsert.versions(spark, dir) should contain(3L)
      for (v <- KeyedUpsert.versions(spark, dir)) withClue(s"version $v: ") {
        try KeyedUpsert.read(spark, dir, Some(v)).as[(Int, Int)].collect()
          .toSet shouldBe (0 until 20).map((_, v.toInt)).toSet
        catch {
          case e: IllegalArgumentException => e.getMessage should include("vacuumed")
        }
      }
      upsert(4) // reclaims what the crash left
      KeyedUpsert.versions(spark, dir) shouldBe Seq(4L)
      new java.io.File(local, "data").list().toSet shouldBe
        KeyedUpsert.snapshot(spark, dir).values.map(_.split('/')(1)).toSet
    }
  }

  test("the recorded schema reads back what parquet inference reads") {
    afterEachOperation { (dir, v) =>
      val live = KeyedUpsert.snapshot(spark, dir).values.toSeq.sorted
        .map(rel => s"$dir/$rel")
      val inferred = spark.read.parquet(live: _*)
      val out = KeyedUpsert.read(spark, dir)
      def sorted(df: DataFrame) = df.collect().sortBy(_.getAs[Int]("id")).toSeq
      withClue(s"version $v: ") {
        out.schema shouldBe inferred.schema
        sorted(out) shouldBe sorted(inferred)
        sorted(out) should not be empty
      }
    }
  }
}
