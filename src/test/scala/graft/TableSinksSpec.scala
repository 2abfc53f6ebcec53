package graft

import org.apache.spark.sql.functions._
import graft.sinks.TableSinks
import graft.sources.FileSources

class TableSinksSpec extends SparkSpec {
  import spark.implicits._

  test("purge drops exactly the partitions below the cutoff") {
    val dir = tmp("sinks") + "/t"
    val df = Seq(("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3))
      .toDF("datestamp", "v")
    TableSinks.writePartitioned(df, dir, "datestamp", "overwrite")
    val dropped = TableSinks.purgePartitionsBelow(spark, dir, "datestamp",
      "2024-01-03")
    dropped shouldBe Seq("2024-01-01", "2024-01-02")
    spark.read.parquet(dir).select("datestamp").as[String]
      .collect().toSeq shouldBe Seq("2024-01-03")
  }

  test("compaction rewrites many-file partitions without changing rows") {
    val dir = tmp("sinks") + "/t"
    // 20 files in one partition (repartition before write)
    val df = spark.range(0, 1000)
      .select(lit("2024-01-01").as("datestamp"), col("id"))
      .repartition(20)
    TableSinks.writePartitioned(df, dir, "datestamp", "overwrite")
    val before = spark.read.parquet(dir)
    val beforeSum = before.agg(sum("id")).head.getLong(0)
    val compacted = TableSinks.compactPartitions(spark, dir, "datestamp",
      maxFiles = 8, targetFiles = 2)
    compacted shouldBe Seq("2024-01-01")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val nFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(dir, "datestamp=2024-01-01"))
      .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
    nFiles should be <= 2
    val after = spark.read.parquet(dir)
    after.count() shouldBe 1000
    after.agg(sum("id")).head.getLong(0) shouldBe beforeSum
    // second run is a no-op (already compact)
    TableSinks.compactPartitions(spark, dir, "datestamp", 8, 2) shouldBe empty
  }

  test("jsonString builds a DataFrame from a REST-style payload") {
    val df = FileSources.jsonString(spark,
      """[{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]""")
    df.count() shouldBe 2
    df.columns.toSet shouldBe Set("id", "name")
  }

  test("schema evolution: merged read null-fills, backfill rewrites only legacy partitions") {
    val dir = tmp("sinks") + "/t"
    // v1 era: two partitions without `q`
    TableSinks.writePartitioned(
      Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("datestamp", "v"),
      dir, "datestamp")
    // v2 era: one partition that carries `q`
    TableSinks.writePartitioned(
      Seq(("2024-01-03", 3L, 30.0)).toDF("datestamp", "v", "q"),
      dir, "datestamp")
    // plain read of the union dir picks ONE schema; merged read unions
    val merged = TableSinks.readMerged(spark, dir)
    merged.columns.toSet shouldBe Set("datestamp", "v", "q")
    merged.filter($"q".isNull).select("v").as[Long]
      .collect().toSet shouldBe Set(1L, 2L)
    val backfilled = TableSinks.addColumnBackfill(spark, dir, "datestamp",
      "q", lit(-1.0))
    backfilled shouldBe Seq("2024-01-01", "2024-01-02")
    val after = TableSinks.readMerged(spark, dir)
      .select("v", "q").as[(Long, Double)].collect().toMap
    after shouldBe Map(1L -> -1.0, 2L -> -1.0, 3L -> 30.0)
    // idempotent: nothing left to backfill
    TableSinks.addColumnBackfill(spark, dir, "datestamp", "q",
      lit(-1.0)) shouldBe empty
  }

  test("backfill over many legacy partitions runs as one batched rewrite") {
    val dir = tmp("sinks") + "/t"
    // 30 legacy partitions without `q`, 5 modern ones with it
    val legacy = spark.range(0, 30).select(
      concat(lit("2024-01-"), format_string("%02d", $"id" + 1))
        .as("datestamp"),
      $"id".as("v"))
    TableSinks.writePartitioned(legacy, dir, "datestamp")
    val modern = spark.range(0, 5).select(
      concat(lit("2024-02-"), format_string("%02d", $"id" + 1))
        .as("datestamp"),
      $"id".as("v"), ($"id" * 1.0).as("q"))
    TableSinks.writePartitioned(modern, dir, "datestamp")
    val backfilled = TableSinks.addColumnBackfill(spark, dir, "datestamp",
      "q", lit(-1.0))
    backfilled.size shouldBe 30
    backfilled.head shouldBe "2024-01-01"
    val after = TableSinks.readMerged(spark, dir)
    after.count() shouldBe 35
    after.filter($"q" === -1.0).count() shouldBe 30
    after.filter($"q".isNull).count() shouldBe 0
    // idempotent; the staging dir is gone
    TableSinks.addColumnBackfill(spark, dir, "datestamp", "q",
      lit(-1.0)) shouldBe empty
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName)
      .count(n => n.startsWith(".evolve-") || n.startsWith(".bak-")) shouldBe 0
  }

  test("backfill aborts before any swap when a partition value re-renders") {
    val dir = tmp("sinks") + "/t"
    // zero-padded partition value: partition inference reads part=0123
    // as integer 123, so the staged dir name diverges from the live one
    TableSinks.writePartitioned(
      Seq(("0123", 1L)).toDF("part", "v"), dir, "part")
    TableSinks.writePartitioned(
      Seq(("0456", 2L, 9.0)).toDF("part", "v", "q"), dir, "part")
    val ex = intercept[IllegalStateException] {
      TableSinks.addColumnBackfill(spark, dir, "part", "q", lit(-1.0))
    }
    ex.getMessage should include("backfill aborted")
    // live table untouched, staging cleaned up
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).toSeq
    names should contain("part=0123")
    names.count(_.startsWith(".evolve-")) shouldBe 0
    TableSinks.readMerged(spark, dir).count() shouldBe 2
  }

  test("partition pruning reaches the scan on datestamp filters") {
    val dir = tmp("sinks") + "/t"
    val df = Seq(("2024-01-01", 1), ("2024-01-02", 2)).toDF("datestamp", "v")
    TableSinks.writePartitioned(df, dir, "datestamp", "overwrite")
    val q = spark.read.parquet(dir).filter($"datestamp" === "2024-01-02")
    val plan = q.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    q.as[(Int, String)].collect().toSeq shouldBe Seq((2, "2024-01-02"))
  }

  test("clustered write yields disjoint per-file key ranges") {
    val dir = tmp("sinks") + "/clustered"
    val df = spark.range(0, 10000).select(
      (col("id") * 37 % 1000).as("k"), col("id").as("payload"))
    TableSinks.writeClustered(df, dir, "k", numFiles = 8)
    val ranges = TableSinks.fileRangesOf(spark, dir, "k").sortBy(_._2)
    ranges.size shouldBe 8
    // every file owns its own key range: max(file i) < min(file i+1),
    // which is what lets min/max stats skip 7 of 8 files on a point key
    ranges.sliding(2).foreach {
      case Seq((_, _, hi), (_, lo, _)) => hi should be <= lo
      case _ =>
    }
    // and the clustered roundtrip loses nothing
    spark.read.parquet(dir).count() shouldBe 10000L
    val hit = spark.read.parquet(dir).filter($"k" === 500L)
    hit.count() shouldBe df.filter($"k" === 500L).count()
  }

  test("z-order bounds per-file ranges on BOTH cluster columns") {
    val dir = tmp("sinks") + "/zorder"
    val dirC = tmp("sinks") + "/zorder-contrast"
    // modular scrambling: k2 is a scattered function of k1, so at
    // bucket granularity the two behave as independent dimensions
    val df = spark.range(0, 20000).select(
      (col("id") * 37 % 1000).as("k1"),
      (col("id") * 91 % 1000).as("k2"),
      col("id").as("payload"))
    TableSinks.writeZOrdered(df, dir, Seq("k1", "k2"), numFiles = 16)
    TableSinks.writeClustered(df, dirC, "k1", numFiles = 16)
    def avgWidth(d: String, c: String): Double = {
      val rs = TableSinks.fileRangesOf(spark, d, c)
      rs.map { case (_, lo, hi) => (hi - lo).toDouble }.sum / rs.size
    }
    // global range is [0, 999]: the z-layout must bound BOTH columns'
    // per-file width, where single-key clustering bounds only its own
    // key and leaves the other at ~full width (nothing to prune on)
    avgWidth(dir, "k1") should be < 600.0
    avgWidth(dir, "k2") should be < 600.0
    avgWidth(dirC, "k1") should be < 200.0
    avgWidth(dirC, "k2") should be > 900.0
    // the layout changes bytes on disk, never rows
    spark.read.parquet(dir).count() shouldBe 20000L
    val pred = ($"k1".between(100L, 199L) && $"k2".between(400L, 499L))
    spark.read.parquet(dir).filter(pred).count() shouldBe
      df.filter(pred).count()
  }

  test("bloom index prunes files for point lookups min/max cannot help") {
    import graft.sinks.FileBloomIndex
    val dir = tmp("sinks") + "/bloomidx"
    val idx = tmp("sinks") + "/bloomidx-side"
    // ids scattered over 16 files: every file's [min, max] covers
    // every id, so footer stats would scan all 16
    spark.range(0, 40000).select(col("id"), (col("id") % 97).as("payload"))
      .repartition(16)
      .write.parquet(dir)
    FileBloomIndex.build(spark, dir, "id", idx)
    val probes = Seq(7L, 1234L, 39999L)
    for (v <- probes) {
      val cand = FileBloomIndex.candidateFiles(spark, idx, v)
      // a unique key lives in exactly one file; k=3 over 2^16 bits at
      // this fill keeps false positives to a couple of files at most
      cand.size should be >= 1
      cand.size should be <= 4
      // and the lookup through the candidates finds exactly the row
      FileBloomIndex.lookup(spark, dir, idx, "id", v)
        .select("id").as[Long].collect() shouldBe Seq(v)
    }
    // absent key: no false negative is possible, absent rows stay absent
    FileBloomIndex.lookup(spark, dir, idx, "id", 555555L).count() shouldBe 0L
  }

  test("fileRangesOf names the column and file on a bad column") {
    val dir = tmp("sinks") + "/ranges_guard"
    val df = spark.range(0, 100).select(col("id").as("k"),
      concat(lit("s"), col("id")).as("s"))
    TableSinks.writeClustered(df, dir, "k", numFiles = 2)
    val missing = the[IllegalArgumentException] thrownBy
      TableSinks.fileRangesOf(spark, dir, "no_such_col")
    missing.getMessage should include("no_such_col")
    missing.getMessage should include(".parquet")
    val nonNumeric = the[IllegalArgumentException] thrownBy
      TableSinks.fileRangesOf(spark, dir, "s")
    nonNumeric.getMessage should include("non-numeric")
  }
}
