package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Dirs
import graft.functions.Fns
import graft.sinks.{FileBloomIndex, KeyedUpsert, TableSinks}
import graft.sources.{FileSources, Tables}

/** Source/sink round-trips surfaced through the correctness gate: each
  * query materializes a side table in a scratch dir with one writer,
  * reads it back with the matching reader, and must reproduce results
  * DuckDB derives straight from the original parquet — verifying both
  * directions of the format plumbing.
  */
object SinkQueries {

  val all: Map[String, Q] = Map(

    // K9 + S6: single-file headered CSV report written, then re-read
    // with an explicit schema and re-aggregated.
    "k01_csv_roundtrip" -> Q(
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k01", d)
      TableSinks.csvReport(
        Tables.events(s, d).select("event_id", "event_type", "value"),
        s"$dir/report")
      FileSources.csv(s, s"$dir/report", StructType(Seq(
          StructField("event_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("event_type")
    },

    // K1/K2 + K10: datestamp-partitioned write, retention purge of old
    // partitions, then a partition-pruned read-back.
    "k02_retention" -> Q(
      """SELECT strftime(ts, '%Y-%m-%d') AS datestamp, count(*) AS n
        |FROM events WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-15'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k02", d)
      val table = s"$dir/events_by_day"
      TableSinks.writePartitioned(
        Tables.events(s, d).withColumn("datestamp", Fns.datestamp(col("ts"))),
        table, "datestamp", mode = "overwrite")
      TableSinks.purgePartitionsBelow(s, table, "datestamp", "2024-01-15")
      s.read.parquet(table)
        .groupBy("datestamp").agg(count(lit(1)).as("n"))
        .orderBy("datestamp")
    },

    // Additive schema evolution end-to-end: v1 partitions written
    // without the `quality` column, v2 partitions with it; phase
    // 'merged' reads the mixed table through mergeSchema (v1 rows ->
    // null), then addColumnBackfill rewrites ONLY the legacy partitions
    // (the reference's ALTER ADD COLUMNS + backfill) and phase
    // 'backfilled' re-reads. Sums travel as DECIMAL for order
    // independence, DOUBLE at the edge.
    "k04_schema_evolution" -> Q(
      """SELECT phase, event_type, n, sum_q FROM (
        |  SELECT 'merged' AS phase, event_type, count(*) AS n,
        |         CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d') >= '2024-01-20'
        |                       THEN CAST(value AS DECIMAL(20,2)) END)
        |              AS DOUBLE) AS sum_q
        |  FROM events GROUP BY 2
        |  UNION ALL
        |  SELECT 'backfilled', event_type, count(*),
        |         CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d') >= '2024-01-20'
        |                       THEN CAST(value AS DECIMAL(20,2))
        |                       ELSE CAST(-1.0 AS DECIMAL(20,2)) END)
        |              AS DOUBLE)
        |  FROM events GROUP BY 2)
        |ORDER BY phase, event_type""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k04", d)
      val table = s"$dir/evolving"
      val ev = Tables.events(s, d)
        .withColumn("datestamp", Fns.datestamp(col("ts")))
      TableSinks.writePartitioned(
        ev.filter(col("datestamp") < "2024-01-20")
          .select("event_id", "event_type", "value", "datestamp"),
        table, "datestamp")
      TableSinks.writePartitioned(
        ev.filter(col("datestamp") >= "2024-01-20")
          .select(col("event_id"), col("event_type"), col("value"),
            col("value").as("quality"), col("datestamp")),
        table, "datestamp")
      def phaseAgg(phase: String) = TableSinks.readMerged(s, table)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("quality").cast("decimal(20,2)")).cast("double").as("sum_q"))
        .select(lit(phase).as("phase"), col("event_type"), col("n"),
          col("sum_q"))
      // the backfill below mutates the same files, so the pre-backfill
      // phase must materialize eagerly, not stay a lazy plan
      val merged = phaseAgg("merged").localCheckpoint(true)
      TableSinks.addColumnBackfill(s, table, "datestamp", "quality",
        lit(-1.0))
      merged.unionByName(phaseAgg("backfilled"))
        .orderBy("phase", "event_type")
    },

    // MERGE DELETE + OPTIMIZE round-trip: seed per-user aggregates,
    // delete a keyed subset (WHEN MATCHED THEN DELETE), compact the
    // fragmented snapshot to one file per bucket, read back — must
    // equal the oracle's direct aggregate over the surviving users.
    "k06_delete_compact" -> Q(
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
        |FROM events WHERE user_id % 10 <> 3
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k06", d)
      val out = s"$dir/t"
      val agg = Tables.events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      KeyedUpsert.upsert(s, out, agg, Seq("user_id"), 8)
      KeyedUpsert.delete(s, out,
        agg.filter(pmod(col("user_id"), lit(10L)) === 3).select("user_id"),
        Seq("user_id"), 8)
      KeyedUpsert.compact(s, out, sortCols = Seq("user_id"))
      KeyedUpsert.read(s, out).orderBy("user_id")
    },

    // Time travel over the KeyedUpsert snapshot manifest: two upsert
    // commits (events before/after the split, keyed by user+type,
    // argmax event_id), then read version 1 AND the latest snapshot —
    // the reference's startingVersion/DESCRIBE HISTORY replay surface.
    // The oracle recomputes both snapshots straight from events.
    "k05_time_travel" -> Q(
      """WITH r1 AS (
        |  SELECT user_id, event_type, event_id, value, row_number()
        |           OVER (PARTITION BY user_id, event_type
        |                 ORDER BY event_id DESC) AS rn
        |  FROM events WHERE floor(epoch(ts)) < 1705708800
        |), r2 AS (
        |  SELECT user_id, event_type, event_id, value, row_number()
        |           OVER (PARTITION BY user_id, event_type
        |                 ORDER BY event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT phase, user_id, event_type, event_id, value FROM (
        |  SELECT 'v1' AS phase, user_id, event_type, event_id, value
        |  FROM r1 WHERE rn = 1
        |  UNION ALL
        |  SELECT 'latest', user_id, event_type, event_id, value
        |  FROM r2 WHERE rn = 1)
        |ORDER BY phase, user_id, event_type""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k05", d)
      val out = s"$dir/tbl"
      val t0 = 1705708800L // 2024-01-20, same split as st03
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), unix_timestamp(col("ts")).as("uts"))
      def put(batch: org.apache.spark.sql.DataFrame): Unit =
        KeyedUpsert.upsert(s, out, batch.drop("uts"),
          Seq("user_id", "event_type"), numBuckets = 8,
          tieBreak = Some("event_id"), keepMaxOnMerge = true)
      put(ev.filter(col("uts") < t0))
      put(ev.filter(col("uts") >= t0))
      def phased(phase: String, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(phase).as("phase"), col("user_id"),
          col("event_type"), col("event_id"), col("value"))
      phased("v1", KeyedUpsert.read(s, out, version = Some(1L)))
        .unionByName(phased("latest", KeyedUpsert.read(s, out)))
        .orderBy("phase", "user_id", "event_type")
    },

    // S5 text-glob scan over a partitioned JSON archive (the backfill
    // path), parsed with get_json_object.
    "k03_text_glob" -> Q(
      """SELECT CAST(json_extract_string(j, '$.user_id') AS BIGINT) AS user_id,
        |       count(*) AS n
        |FROM (SELECT to_json(struct_pack(user_id := user_id,
        |                                 event_type := event_type)) AS j
        |      FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k03", d)
      // write a month=*/ JSON archive like the reference's blob layout
      Tables.events(s, d)
        .withColumn("month", date_format(col("ts"), "yyyy-MM"))
        .select(col("month"),
          to_json(struct(col("user_id"), col("event_type"))).as("j"))
        .write.partitionBy("month").mode("overwrite").text(s"$dir/archive")
      FileSources.textGlob(s, s"$dir/archive/month=*/*.txt")
        .select(get_json_object(col("value"), "$.user_id").cast("long")
          .as("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy("user_id")
    },

    // key-clustered layout (TableSinks.writeClustered): events range-
    // partitioned + sorted by user_id into 8 files with disjoint key
    // ranges, then a key-range read-back over the clustered table. The
    // parquet min/max stats the layout tightens are asserted file-by-
    // file in TableSinksSpec; here the oracle proves the clustered
    // roundtrip loses and reorders nothing.
    "k07_clustered_layout" -> Q(
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
        |FROM events WHERE user_id BETWEEN 40 AND 59
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k07", d)
      val table = s"$dir/events_clustered"
      TableSinks.writeClustered(
        Tables.events(s, d).select("user_id", "event_id", "value"),
        table, "user_id", numFiles = 8)
      s.read.parquet(table)
        .filter(col("user_id").between(40, 59))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("user_id")
    },

    // semantic version diff (KeyedUpsert.diff): latest-per-(device,
    // type) table at v1 (pre-cutover), upserted to v2, keys deleted at
    // v3 — the diff v1 -> latest must name exactly the added, updated
    // and removed keys, row-compared (a key rewritten with identical
    // content reports nothing, unlike the file-granular changesSince)
    // and bucket-pruned (only buckets whose manifest entry moved are
    // scanned).
    "k08_version_diff" -> Q(
      """WITH r1 AS (
        |  SELECT user_id, event_type, event_id, row_number()
        |           OVER (PARTITION BY user_id, event_type
        |                 ORDER BY event_id DESC) AS rn
        |  FROM events WHERE floor(epoch(ts)) < 1705708800
        |), r2 AS (
        |  SELECT user_id, event_type, event_id, row_number()
        |           OVER (PARTITION BY user_id, event_type
        |                 ORDER BY event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT coalesce(a.user_id, b.user_id) AS user_id,
        |       coalesce(a.event_type, b.event_type) AS event_type,
        |       CASE WHEN a.user_id IS NULL THEN 'added'
        |            WHEN b.user_id IS NULL THEN 'removed'
        |            WHEN a.event_id != b.event_id THEN 'updated' END AS change
        |FROM (SELECT * FROM r1 WHERE rn = 1) a
        |FULL OUTER JOIN (SELECT * FROM r2 WHERE rn = 1
        |                 AND event_type != 'error') b
        |  ON a.user_id = b.user_id AND a.event_type = b.event_type
        |WHERE a.user_id IS NULL OR b.user_id IS NULL
        |   OR a.event_id != b.event_id
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k08", d)
      val out = s"$dir/tbl"
      val t0 = 1705708800L // same split as k05/st03
      val keys = Seq("user_id", "event_type")
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), unix_timestamp(col("ts")).as("uts"))
      def put(batch: org.apache.spark.sql.DataFrame): Unit =
        KeyedUpsert.upsert(s, out, batch.drop("uts"), keys,
          numBuckets = 8, tieBreak = Some("event_id"), keepMaxOnMerge = true)
      put(ev.filter(col("uts") < t0))   // v1
      put(ev.filter(col("uts") >= t0))  // v2
      KeyedUpsert.delete(s, out,        // v3: error keys retired
        KeyedUpsert.read(s, out).filter(col("event_type") === "error")
          .select(keys.map(col): _*), keys, numBuckets = 8)
      KeyedUpsert.diff(s, out, 1L, keys)
        .orderBy("user_id", "event_type")
    },

    // ORC round-trip: the second columnar format the engine speaks
    // natively (Spark's built-in ORC datasource — same pushdown/pruning
    // machinery as parquet). Datestamp-partitioned write, then a
    // partition-pruned read-back re-aggregated; the oracle derives the
    // same result straight from the original parquet, proving both
    // directions of the format plumbing.
    "k09_orc_roundtrip" -> Q(
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-15'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k09", d)
      val table = s"$dir/events_orc"
      Tables.events(s, d)
        .withColumn("datestamp", Fns.datestamp(col("ts")))
        .select("event_id", "event_type", "value", "datestamp")
        .write.mode("overwrite").partitionBy("datestamp").orc(table)
      s.read.orc(table)
        .filter(col("datestamp") >= "2024-01-15")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("event_type")
    },

    // DESCRIBE HISTORY parity over the KeyedUpsert version log
    // ([Q1]:702): a MERGE/MERGE/DELETE/OPTIMIZE/RESTORE sequence, then
    // the commit-metadata readback — operation names straight from the
    // manifest headers, live row count per pinned version (the RESTORE
    // row proves rollback re-surfaces version 2's cardinality, deleted
    // error keys included). The oracle recomputes each version's
    // expected cardinality from events, so the gate verifies the log's
    // CONTENT, not just its shape.
    "k11_history" -> Q(
      """WITH k1 AS (SELECT DISTINCT user_id, event_type FROM events
        |            WHERE floor(epoch(ts)) < 1705708800),
        |k2 AS (SELECT DISTINCT user_id, event_type FROM events),
        |k3 AS (SELECT DISTINCT user_id, event_type FROM events
        |       WHERE event_type != 'error')
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, 'MERGE' AS operation,
        |         (SELECT count(*) FROM k1) AS n_live
        |  UNION ALL SELECT 2, 'MERGE', (SELECT count(*) FROM k2)
        |  UNION ALL SELECT 3, 'DELETE', (SELECT count(*) FROM k3)
        |  UNION ALL SELECT 4, 'OPTIMIZE', (SELECT count(*) FROM k3)
        |  UNION ALL SELECT 5, 'RESTORE', (SELECT count(*) FROM k2))
        |ORDER BY version""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k11", d)
      val out = s"$dir/tbl"
      val t0 = 1705708800L // same split as k05/k08
      val keys = Seq("user_id", "event_type")
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), unix_timestamp(col("ts")).as("uts"))
      def put(batch: org.apache.spark.sql.DataFrame): Unit =
        KeyedUpsert.upsert(s, out, batch.drop("uts"), keys,
          numBuckets = 8, tieBreak = Some("event_id"), keepMaxOnMerge = true)
      put(ev.filter(col("uts") < t0))
      put(ev.filter(col("uts") >= t0))
      KeyedUpsert.delete(s, out,
        KeyedUpsert.read(s, out).filter(col("event_type") === "error")
          .select(keys.map(col): _*), keys, numBuckets = 8)
      KeyedUpsert.compact(s, out, sortCols = keys)
      KeyedUpsert.restore(s, out, 2L)
      // per-version counts are manifest-pruned reads — bounded by the
      // (4-entry) version log, not the table
      import s.implicits._
      KeyedUpsert.history(s, out)
        .map(c => (c.version, c.operation,
          KeyedUpsert.read(s, out, Some(c.version)).count()))
        .toDF("version", "operation", "n_live")
        .orderBy("version")
    },

    // Z-ORDER layout roundtrip: events rewritten with the
    // multi-column Z-layout (user_id x value), then a 2-dimensional
    // range scan re-aggregated — the oracle derives the same result
    // straight from the original parquet, proving the layout step
    // moves bytes, never rows. The per-file min/max tightening on both
    // dimensions (what the layout exists for) is asserted
    // footer-by-footer in TableSinksSpec.
    "k12_zorder" -> Q(
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
        |FROM events
        |WHERE user_id BETWEEN 20 AND 59 AND value BETWEEN 100 AND 600
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k12", d)
      val table = s"$dir/events_z"
      TableSinks.writeZOrdered(
        Tables.events(s, d).select("user_id", "event_id", "value"),
        table, Seq("user_id", "value"), numFiles = 8)
      s.read.parquet(table)
        .filter(col("user_id").between(20, 59) &&
          col("value").between(100, 600))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("user_id")
    },

    // per-file Bloom index: events scattered over 16 files by ingest
    // order (every file's event_id [min,max] covers every id — footer
    // stats prune NOTHING), then a point lookup routed through the
    // index side table scans only the file(s) whose filter might
    // contain the key. The oracle answers the same lookup from the
    // raw table; the actual file-skipping factor is asserted in
    // TableSinksSpec.
    "k13_bloom_index" -> Q(
      """SELECT event_id, user_id, event_type, round(value, 2) AS value
        |FROM events WHERE event_id IN (1000, 2024, 4999)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val dir = Dirs.sink("k13", d)
      val table = s"$dir/events_flat"
      val idx = s"$dir/events_flat_idx"
      Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
        .repartition(16)
        .write.mode("overwrite").parquet(table)
      FileBloomIndex.build(s, table, "event_id", idx)
      Seq(1000L, 2024L, 4999L)
        .map(id => FileBloomIndex.lookup(s, table, idx, "event_id", id))
        .reduce(_ unionByName _)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 2).as("value"))
        .orderBy("event_id")
    },

    // bucketed co-located join: both sides written as 8-bucket
    // datasource tables on their join key, so the sort-merge join AND
    // the downstream per-customer aggregate run with ZERO shuffle — the
    // output partitioning of the bucketed scan satisfies both. This is
    // the pre-partitioning answer to the reference's repeated
    // device-dim joins: at 100 TB the dim and fact co-locate once at
    // write time and every subsequent join is exchange-free (asserted
    // in PlanSpec). The merge hint pins sort-merge so the tiny bench
    // dim doesn't broadcast away the plan under test.
    "k10_bucketed_join" -> Q(
      """SELECT o_custkey, c_mktsegment, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = Dirs.fresh(s"/tmp/graft-sink/k10-$tag")
      val ot = s"k10_orders_$tag"
      val ct = s"k10_cust_$tag"
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $ct")
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .write.format("parquet").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$dir/orders").saveAsTable(ot)
      Tables.customer(s, d).select("c_custkey", "c_mktsegment")
        .write.format("parquet").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$dir/cust").saveAsTable(ct)
      s.table(ot).hint("merge")
        .join(s.table(ct).hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_custkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_custkey")
    }
  )
}
