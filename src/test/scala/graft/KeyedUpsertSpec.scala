package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.KeyedUpsert

class KeyedUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-upsert").toString + "/t"

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

  test("insert then update then insert-new merges by key") {
    val dir = tmp()
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1), ("b", 2)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    KeyedUpsert.upsert(spark, dir,
      Seq(("b", 20), ("c", 3)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    val out = KeyedUpsert.read(spark, dir).as[(String, Int)].collect().toMap
    out shouldBe Map("a" -> 1, "b" -> 20, "c" -> 3)
  }

  test("diff reports added/updated/removed; identical rewrites are silent") {
    val dir = tmp()
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
    val dir = tmp()
    val batch = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    KeyedUpsert.upsert(spark, dir, batch, Seq("k"), numBuckets = 4)
    KeyedUpsert.upsert(spark, dir, batch, Seq("k"), numBuckets = 4)
    KeyedUpsert.read(spark, dir).count() shouldBe 2
  }

  test("within-batch duplicates collapse; tieBreak picks the max") {
    val dir = tmp()
    KeyedUpsert.upsert(spark, dir,
      Seq(("a", 1), ("a", 9), ("a", 5)).toDF("k", "v"), Seq("k"),
      numBuckets = 4, tieBreak = Some("v"))
    KeyedUpsert.read(spark, dir).as[(String, Int)].collect().toSeq shouldBe
      Seq(("a", 9))
  }

  test("keepMaxOnMerge: an out-of-order older batch cannot regress a key") {
    val dir = tmp()
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
    val dir = tmp()
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
    val dir = tmp()
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
    val dir = tmp()
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
    val dir = tmp()
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

  test("history reports files written; a manifest without the count reads -1") {
    val dir = tmp()
    KeyedUpsert.upsert(spark, dir,
      (0 until 40).map(k => (k, k)).toDF("k", "v"), Seq("k"), numBuckets = 4)
    KeyedUpsert.restore(spark, dir, 1L)
    KeyedUpsert.history(spark, dir).map(c => (c.touchedBuckets, c.filesWritten)) shouldBe
      Seq((4L, 4L), (0L, 0L))
    val v1 = KeyedUpsert.read(spark, dir, Some(1L))
    val (schema, rows) = (v1.schema, v1.as[(Int, Int)].collect().toSet)
    // a manifest committed before the header lines existed: the count
    // reads -1 and the snapshot is read by schema inference
    val m = java.nio.file.Paths.get(s"$dir/_manifests/v00000001.txt")
    val lines = java.nio.file.Files.readAllLines(m)
    lines.removeIf(l => l.startsWith("#filesWritten=") || l.startsWith("#schema="))
    java.nio.file.Files.write(m, lines)
    java.nio.file.Files.deleteIfExists(m.resolveSibling(".v00000001.txt.crc"))
    KeyedUpsert.history(spark, dir).head.filesWritten shouldBe -1L
    val inferred = KeyedUpsert.read(spark, dir, Some(1L))
    inferred.schema shouldBe schema
    inferred.as[(Int, Int)].collect().toSet shouldBe rows
    rows.size shouldBe 40
  }

  test("restore re-publishes an old snapshot as a new pinnable commit") {
    val dir = tmp()
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
    val dir = tmp()
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
    val dir = tmp()
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
    val dir = tmp()
    KeyedUpsert.upsert(spark, dir, Seq(("solo", 1)).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    KeyedUpsert.snapshot(spark, dir).size shouldBe 1
    KeyedUpsert.delete(spark, dir, Seq("solo").toDF("k"), Seq("k"),
      numBuckets = 4)
    KeyedUpsert.snapshot(spark, dir) shouldBe empty
    KeyedUpsert.read(spark, dir).count() shouldBe 0
  }

  test("compact rewrites the snapshot to one file per bucket, data intact") {
    val dir = tmp()
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
    val dir = tmp()
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
    val dir = tmp()
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
    val dir = tmp()
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
    val dir = tmp()
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
    val dir = tmp()
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
    val dir = tmp()
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
      val dir = tmp()
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
    }
  }

  test("keepMaxOnMerge: an incoming row with an equal tieBreak wins") {
    val dir = tmp()
    KeyedUpsert.upsert(spark, dir, Seq((1, 5, "old")).toDF("k", "ts", "v"),
      Seq("k"), numBuckets = 4, tieBreak = Some("ts"), keepMaxOnMerge = true)
    KeyedUpsert.upsert(spark, dir, Seq((1, 5, "new")).toDF("k", "ts", "v"),
      Seq("k"), numBuckets = 4, tieBreak = Some("ts"), keepMaxOnMerge = true)
    contents(dir) shouldBe Map(1 -> ((5, "new")))
  }

  test("an upsert onto live rows plans one shuffle and no broadcast") {
    import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = tmp()
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
    * rows), DELETE, OPTIMIZE and RESTORE with `check(dir, version)` after
    * each commit. */
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
    val dir = tmp()
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
  }

  test("resolving a snapshot runs no Spark job after MERGE, DELETE, OPTIMIZE, RESTORE") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = "keyed-upsert-read-guard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try afterEachOperation { (dir, v) =>
      org.apache.spark.ListenerBusDrain(sc)
      jobs.set(0)
      sc.setJobGroup(group, "KeyedUpsert.read")
      try {
        KeyedUpsert.read(spark, dir)
        KeyedUpsert.read(spark, dir, Some(v))
      } finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      withClue(s"version $v: ") { jobs.get shouldBe 0 }
    } finally sc.removeSparkListener(listener)
  }

  test("an upsert or delete with other keys or bucket count fails, table unchanged") {
    val dir = tmp()
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

  /** Rows and the scan's `numFiles` metric of one collected query. */
  private def scanned(df: DataFrame): (Seq[String], Long) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val rows = df.collect().map(_.toString).toSeq.sorted
    val files = new AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }
    (rows, files.sum)
  }

  test("a full-key lookup reads one bucket; any other filter reads every live file") {
    val dir = tmp()
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
    /** Each filter reads `files` files, and the rows a plain parquet
      * read of the live dirs returns under the same filter. */
    def check(cells: Seq[(String, org.apache.spark.sql.Column, Long)]): Unit = {
      val reference = spark.read.parquet(live(): _*)
      for ((name, f, files) <- cells) withClue(s"$name: ") {
        val (rows, read) = scanned(KeyedUpsert.read(spark, dir).filter(f))
        rows shouldBe scanned(reference.filter(f))._1
        read shouldBe files
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
    // a manifest without #keys=/#numBuckets= reads every live file
    val latest = KeyedUpsert.versions(spark, dir).last
    val m = java.nio.file.Paths.get(f"$dir/_manifests/v$latest%08d.txt")
    val lines = java.nio.file.Files.readAllLines(m)
    lines.removeIf(l => l.startsWith("#keys=") || l.startsWith("#numBuckets="))
    java.nio.file.Files.write(m, lines)
    java.nio.file.Files.deleteIfExists(m.resolveSibling(s".${m.getFileName}.crc"))
    check(v1.keys.toSeq.map { case (s, n) =>
      (s"stripped ($s, $n)", lookup(s, n), live().size.toLong) })
  }

  test("a double key column never prunes") {
    val dir = tmp()
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
