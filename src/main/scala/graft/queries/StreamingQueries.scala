package graft.queries

import org.apache.spark.sql.functions._
import graft.Dirs
import graft.sinks.KeyedUpsert
import graft.sources.{Tables, Topic}
import graft.streaming.{StreamOps, StreamingMedallion}

/** Streaming operators surfaced through the batch correctness gate: the
  * bounded ([[StreamOps.runBounded]]) streaming medallion must converge to
  * exactly the state the batch pipeline computes, so the day-rollup
  * oracle from PipelineQueries verifies the whole streaming topology —
  * topic source, watermark dedup, stream–static joins, update-mode
  * aggregation and the keyed-upsert MERGE sink.
  */
object StreamingQueries {

  /** Oracle mirror of TextFns.normalize (shared by the drift axes). */
  private val streamNorm =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** The drift-report SQL every StreamDrift oracle tails (st17/st18/
    * st19 differ only in the bucket axis CTEs above it): accumulated
    * prior per batch, exact integer cross-multiplied L1 numerator, one
    * IEEE division for the presented ratio. Expects a CTE `h` of
    * (batch BIGINT, bucket BIGINT, cnt). */
  private val driftTailSql =
    """bn AS (SELECT batch, CAST(sum(cnt) AS BIGINT) AS n
      |       FROM h GROUP BY 1),
      |pn AS (SELECT b.batch,
      |         CAST(coalesce(sum(p.n), 0) AS BIGINT) AS prev_n
      |       FROM bn b LEFT JOIN bn p ON p.batch < b.batch GROUP BY 1),
      |ph AS (SELECT b.batch, h.bucket, CAST(sum(h.cnt) AS BIGINT) AS pcnt
      |       FROM bn b JOIN h ON h.batch < b.batch GROUP BY 1, 2),
      |keys AS (SELECT batch, bucket FROM h
      |         UNION SELECT batch, bucket FROM ph),
      |j AS (SELECT k.batch, k.bucket, coalesce(c.cnt, 0) AS ccnt,
      |        coalesce(p.pcnt, 0) AS pcnt
      |      FROM keys k
      |      LEFT JOIN h c ON c.batch = k.batch AND c.bucket = k.bucket
      |      LEFT JOIN ph p ON p.batch = k.batch AND p.bucket = k.bucket),
      |dr AS (SELECT j.batch,
      |         CAST(sum(abs(j.ccnt * pn.prev_n - j.pcnt * bn.n))
      |           AS BIGINT) AS drift_num
      |       FROM j JOIN bn USING (batch) JOIN pn USING (batch)
      |       GROUP BY 1)
      |SELECT bn.batch, bn.n AS n_docs, pn.prev_n AS prev_docs,
      |       dr.drift_num,
      |       CASE WHEN pn.prev_n > 0
      |         THEN round(CAST(dr.drift_num AS DOUBLE) /
      |           (CAST(bn.n AS DOUBLE) * CAST(pn.prev_n AS DOUBLE)), 6)
      |         ELSE 0.0 END AS drift
      |FROM bn JOIN pn USING (batch) JOIN dr USING (batch)
      |ORDER BY bn.batch""".stripMargin

  /** t37's split-fold predicate, shared by the st23/st24 oracles. */
  private val splitFoldSql =
    """list_reduce(list_transform(
      |              string_split(md5(CAST(doc_id AS VARCHAR)), ''),
      |              c -> CAST(ascii(c) AS BIGINT)),
      |              (acc, x) -> (acc * 31 + x) % 1000000007) % 100"""
      .stripMargin

  /** Val-split docs + hashed features under a namespaced prefix —
    * shared by the st23/st24 oracles (the promotion evaluation set). */
  private def promoteValCtes(p: String, poolWhere: String): String = {
    val D = graft.text.ClassifierTrain.Dim
    s"""${p}v AS (SELECT doc_id,
       |         CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |         string_split($streamNorm, ' ') AS ws
       |       FROM documents WHERE text IS NOT NULL$poolWhere
       |         AND $splitFoldSql >= 80),
       |${p}vx AS (
       |  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS x FROM (
       |    SELECT doc_id, unnest(list_transform(
       |        list_concat(ws, list_transform(range(1, len(ws)),
       |          i -> ws[i] || ' ' || ws[i+1])),
       |        t -> CAST((${TextQueries.polyHashSql("t")}) % $D
       |          AS BIGINT))) AS bucket
       |    FROM ${p}v) GROUP BY 1, 2)""".stripMargin
  }

  /** Margin of a feature CTE under a weight CTE — st23/st24 shared. */
  private def promoteScoreCte(name: String, vx: String,
      w: String): String =
    s"""$name AS (SELECT $vx.doc_id,
       |    CAST(sum(w.w * $vx.x) AS BIGINT) AS s
       |  FROM $vx JOIN $w w USING (bucket) GROUP BY 1)""".stripMargin

  /** The champion-vs-challenger integer accuracy aggregate over the
    * clean-{0,1} val split — st23/st24 shared. */
  private val promoteAcc2Cte =
    """acc2 AS (SELECT CAST(count(*) FILTER (
      |             WHERE v.y * coalesce(sa.s, 0) > 0) AS BIGINT)
      |             AS champ_ok,
      |           CAST(count(*) FILTER (
      |             WHERE v.y * coalesce(sb.s, 0) > 0) AS BIGINT)
      |             AS chall_ok,
      |           CAST(count(*) AS BIGINT) AS n
      |         FROM bv v LEFT JOIN s2a sa ON sa.doc_id = v.doc_id
      |                   LEFT JOIN s2b sb ON sb.doc_id = v.doc_id)"""
      .stripMargin

  /** Bounded streaming runs at test scale don't benefit from wide state
    * partitioning — fewer state stores means less per-micro-batch
    * commit overhead. Safe to scope per run: each run starts from a
    * fresh checkpoint, so the state partition count isn't pinned. */
  private def withShufflePartitions[T](
      s: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Publish `ev` to `topicDir` as `nSlices` ascending-TIME slices,
    * one file each, mtimes forced strictly increasing — so the file
    * source replays the topic as time-ordered micro-batches. The SCD2
    * fold needs this: [[graft.operators.Scd2.applyChanges]] is
    * incremental-equals-batch only for time-ordered splits of the
    * change log (a Kafka topic partitioned by key gives the same
    * per-key order for real). */
  private def publishEventsTimeOrdered(
      s: org.apache.spark.sql.SparkSession,
      ev: org.apache.spark.sql.DataFrame, topicDir: String,
      nSlices: Int): Unit = {
    val span = ev.agg(
      min(unix_timestamp(col("ts"))).as("lo"),
      max(unix_timestamp(col("ts"))).as("hi")).head
    val loS = span.getLong(0)
    val step = math.max(1L, (span.getLong(1) - loS) / nSlices + 1)
    Topic.publishOrderedSlices(topicDir, nSlices) { (k, append) =>
      val from = loS + k * step
      Topic.publishEvents(
        ev.filter(unix_timestamp(col("ts")) >= from &&
          unix_timestamp(col("ts")) < (from + step)),
        topicDir, nFiles = 1, append = append)
    }
  }

  /** The st16/st25 SHARED oracle: t28's one-shot topology (quality
    * gate → MinHash-LSH pairs → CC canonical keep → decontaminate →
    * leakage-safe split → md5-ranked 64-doc shards → pack manifest)
    * over `documents` restricted by `ndWhere` on the shared nd CTE —
    * st16 passes the empty restriction (every arrival builds), st25
    * the pinned non-fired-batch one (doc_id % 4 <> 2 at sf0.01). One
    * WHERE is the whole difference, so the two oracles can never
    * drift apart structurally. */
  private def corpusBuildOracle(ndWhere: String): String =
    s"""WITH RECURSIVE
       |nd AS (SELECT doc_id,
       |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |       FROM documents$ndWhere),
         |q AS (
         |  SELECT doc_id,
         |         round(least(n::DOUBLE / 50.0, 1.0) * 0.5 +
         |               (stop_n::DOUBLE / n::DOUBLE) * 0.3 +
         |               (1.0 - CASE WHEN chars = 0 THEN 0.0 ELSE punct_n::DOUBLE / chars::DOUBLE END) * 0.2, 4)
         |           AS quality
         |  FROM (
         |    SELECT doc_id,
         |           len(string_split(t, ' ')) AS n,
         |           len(list_filter(string_split(t, ' '),
         |               w -> w IN ${TextQueries.stopList})) AS stop_n,
         |           len(regexp_extract_all(t, '[^a-z0-9 ]', 0)) AS punct_n,
         |           len(t) AS chars
         |    FROM nd)),
         |gated AS (SELECT doc_id FROM q WHERE quality >= 0.5),
         |w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM nd),
         |ssh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |           list_transform(range(1, len(ws) - 1),
         |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         |  FROM w JOIN gated USING (doc_id) WHERE len(ws) >= 3),
         |sigs AS (
         |  SELECT doc_id,
         |         list_transform(range(0, 12), s ->
         |           list_min(list_transform(shs, x ->
         |             md5(CAST(s AS VARCHAR) || '|' || x)))) AS sig
         |  FROM (SELECT doc_id, list(s) AS shs FROM ssh GROUP BY 1)),
         |buckets AS (
         |  SELECT doc_id, unnest(list_transform(range(0, 4), b ->
         |           md5(CAST(b AS VARCHAR) || '|' || sig[b*3+1] || '|' ||
         |               sig[b*3+2] || '|' || sig[b*3+3]))) AS bucket
         |  FROM sigs),
         |cnd AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM buckets a JOIN buckets b
         |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |prs AS (
         |  SELECT a, b
         |  FROM cnd JOIN sigs sa ON a = sa.doc_id JOIN sigs sb ON b = sb.doc_id
         |  WHERE len(list_filter(range(1, 13),
         |        i -> sa.sig[i] = sb.sig[i])) / 12.0 >= 0.5),
         |und AS (SELECT a AS src, b AS dst FROM prs
         |        UNION SELECT b, a FROM prs),
         |cc AS (
         |  SELECT src AS node, src AS label FROM und
         |  UNION
         |  SELECT u.dst, cc.label FROM cc JOIN und u ON cc.node = u.src),
         |labels AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY 1),
         |kept AS (SELECT g.doc_id FROM gated g LEFT JOIN labels l
         |           ON g.doc_id = l.node
         |         WHERE l.node IS NULL OR g.doc_id = l.cluster_id),
         |hsh AS (
         |  SELECT doc_id, unnest(list_transform(list_distinct(
         |           list_transform(range(1, len(ws) - 1),
         |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])), s ->
         |           list_reduce(list_transform(string_split(s, ''),
         |               c -> CAST(ascii(c) AS BIGINT)),
         |             (acc, x) -> (acc * 31 + x) % 1073741789) * 1073741824 +
         |           list_reduce(list_transform(string_split(s, ''),
         |               c -> CAST(ascii(c) AS BIGINT)),
         |             (acc, x) -> (acc * 131 + x) % 1073741783))) AS sh
         |  FROM w WHERE len(ws) >= 3),
         |ev AS (SELECT DISTINCT sh FROM hsh WHERE doc_id % 97 = 0),
         |trn AS (SELECT h.doc_id, h.sh FROM hsh h JOIN kept USING (doc_id)
         |        WHERE h.doc_id % 97 <> 0),
         |tsz AS (SELECT doc_id, count(*) AS n_sh FROM trn GROUP BY 1),
         |shared AS (SELECT doc_id, count(*) AS n_shared
         |           FROM trn JOIN ev USING (sh) GROUP BY 1),
         |contam AS (SELECT t.doc_id FROM tsz t JOIN shared h USING (doc_id)
         |           WHERE h.n_shared * 1.0 / t.n_sh >= 0.5),
         |clean AS (SELECT doc_id FROM kept
         |          WHERE doc_id % 97 <> 0
         |            AND doc_id NOT IN (SELECT doc_id FROM contam)),
         |tr2 AS (
         |  SELECT c.doc_id FROM (
         |    SELECT cl.doc_id, coalesce(l.cluster_id, cl.doc_id) AS split_key
         |    FROM clean cl LEFT JOIN labels l ON cl.doc_id = l.node) c
         |  WHERE list_reduce(list_transform(
         |          string_split(md5(CAST(c.split_key AS VARCHAR)), ''),
         |          ch -> CAST(ascii(ch) AS BIGINT)),
         |          (acc, x) -> (acc * 31 + x) % 1000000007) % 100 < 80),
         |r AS (
         |  SELECT t2.doc_id,
         |         row_number() OVER (ORDER BY md5(CAST(t2.doc_id AS VARCHAR)),
         |                            t2.doc_id) AS pos,
         |         len(regexp_extract_all(nd.t, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))
         |           AS n_tok
         |  FROM tr2 t2 JOIN nd ON t2.doc_id = nd.doc_id),
         |p AS (
         |  SELECT pos, n_tok,
         |         CAST(floor((pos - 1) / 64.0) AS BIGINT) AS shard,
         |         coalesce(CAST(sum(n_tok) OVER (
         |           PARTITION BY CAST(floor((pos - 1) / 64.0) AS BIGINT)
         |           ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS BIGINT), 0) AS cum_before
         |  FROM r)
         |SELECT shard, count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |       CAST(max(floor(cum_before / 2048.0)) + 1 AS BIGINT) AS n_packs,
         |       CAST(min(pos) AS BIGINT) AS pos_lo,
         |       CAST(max(pos) AS BIGINT) AS pos_hi
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin

  val all: Map[String, Q] = Map(

    // ST1/ST2/ST3/K4 end-to-end: streamed day rollup == batch day rollup.
    "st01_stream_day_rollup" -> Q(PipelineQueries.rollupSql("day")) { (s, d) =>
      val root = Dirs.stream("st01", d)
      val topic = s"$root/topic"
      val out = s"$root/rollup"
      val ckpt = s"$root/ckpt"
      // 4 files / 2 per trigger: two multi-file micro-batches — the
      // incremental MERGE path is exercised without paying per-batch
      // commit machinery for single-file batches
      Topic.publishEvents(Tables.events(s, d), topic, nFiles = 4)
      // retention wide enough that the shuffled replay has no late drops:
      // the bounded run must converge to the batch-exact state
      withShufflePartitions(s, 8) {
        StreamingMedallion.runDayRollup(s, topic, out, ckpt,
          maxFilesPerTrigger = 2, numBuckets = 8, dedupRetention = "3650 days")
      }
      KeyedUpsert.read(s, out)
        .select("id", "bucket_ts", "remote_id", "metric_id", "provider_id",
          "category_id", "sum_value", "avg_value", "min_value", "max_value", "n")
        .orderBy("id", "bucket_ts")
    },

    // streaming latest with conditional MERGE (update only if newer):
    // must converge to the batch latest snapshot despite the shuffled
    // topic replay feeding out-of-order micro-batches.
    "st02_stream_latest" -> Q(
      PipelineQueries.ctes +
        """SELECT remote_id || '|' || CAST(metric_id AS VARCHAR) || '|' ||
          |       CAST(provider_id AS VARCHAR) || '|' || CAST(category_id AS VARCHAR) AS id,
          |       remote_id, metric_id, provider_id, category_id,
          |       unix_timestamp,
          |       CAST(value_double AS DOUBLE) AS value_double, value_string
          |FROM (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY remote_id, metric_id, provider_id, category_id
          |    ORDER BY unix_timestamp DESC, CAST(element AS BIGINT) DESC) AS rn
          |  FROM gold) WHERE rn = 1
          |ORDER BY id""".stripMargin) { (s, d) =>
      val root = Dirs.stream("st02", d)
      Topic.publishEvents(Tables.events(s, d), s"$root/topic", nFiles = 4)
      withShufflePartitions(s, 8) {
        StreamingMedallion.runLatest(s, s"$root/topic", s"$root/latest",
          s"$root/ckpt", maxFilesPerTrigger = 2, numBuckets = 8)
      }
      KeyedUpsert.read(s, s"$root/latest")
        .select(graft.functions.Fns.servingId(col("remote_id"),
          col("metric_id"), col("provider_id"), col("category_id")).as("id"),
          col("remote_id"), col("metric_id"), col("provider_id"),
          col("category_id"), col("unix_timestamp"),
          col("value_double").cast("double").as("value_double"),
          col("value_string"))
        .orderBy("id")
    },

    // incremental rollup maintenance ([A5]:57-83): seed the table from
    // history, then an incremental pass re-aggregates only buckets
    // inside the lookback window and MERGEs them in — final state must
    // equal the full recompute.
    "st03_incremental_rollup" -> Q(PipelineQueries.rollupSql("day")) { (s, d) =>
      val root = Dirs.stream("st03", d)
      val out = s"$root/rollup"
      val gold = graft.pipeline.Medallion.gold(
        graft.pipeline.Medallion.silver(Tables.events(s, d)),
        graft.pipeline.Dims.metricMappings(s),
        graft.pipeline.Dims.deviceHistory(s)).cache()
      // split point: 2024-01-20; lookback covers the whole split day
      val t0 = 1705708800L
      KeyedUpsert.upsert(s, out,
        graft.pipeline.Medallion.dayRollup(
          gold.filter(col("unix_timestamp") < t0)), Seq("id"), 8)
      // incremental pass re-scans from the bucket boundary (day floor
      // of t0), so partially-seeded buckets are recomputed whole
      KeyedUpsert.upsert(s, out,
        graft.pipeline.Medallion.dayRollup(
          gold.filter(col("unix_timestamp") >= t0 - 86400)), Seq("id"), 8)
      KeyedUpsert.read(s, out)
        .select("id", "bucket_ts", "remote_id", "metric_id", "provider_id",
          "category_id", "sum_value", "avg_value", "min_value", "max_value", "n")
        .orderBy("id", "bucket_ts")
    },

    // startingVersion-style incremental replay ([G4]:42's
    // `option("startingVersion", ...)` as a checked behavior): a
    // downstream consumer holds the v1 snapshot, then applies ONLY the
    // bucket-granular change feed from changesSince(v1) — replacing by
    // key, since a changed bucket's feed carries every current row of
    // that bucket — and must converge to exactly the full recompute.
    "st04_changes_since" -> Q(PipelineQueries.rollupSql("day")) { (s, d) =>
      val root = Dirs.stream("st04", d)
      val out = s"$root/rollup"
      val cols = Seq("id", "bucket_ts", "remote_id", "metric_id",
        "provider_id", "category_id", "sum_value", "avg_value",
        "min_value", "max_value", "n")
      val gold = graft.pipeline.Medallion.gold(
        graft.pipeline.Medallion.silver(Tables.events(s, d)),
        graft.pipeline.Dims.metricMappings(s),
        graft.pipeline.Dims.deviceHistory(s)).cache()
      val t0 = 1705708800L // same split as st03
      KeyedUpsert.upsert(s, out,
        graft.pipeline.Medallion.dayRollup(
          gold.filter(col("unix_timestamp") < t0)), Seq("id"), 8)
      KeyedUpsert.upsert(s, out,
        graft.pipeline.Medallion.dayRollup(
          gold.filter(col("unix_timestamp") >= t0 - 86400)), Seq("id"), 8)
      val v1 = KeyedUpsert.read(s, out, version = Some(1L))
        .select(cols.map(col): _*)
      val feed = KeyedUpsert.changesSince(s, out, 1L)
        .select(cols.map(col): _*)
      // downstream replay: keys absent from the feed are untouched
      // (rows never move buckets, upserts never delete)
      v1.join(feed.select("id"), Seq("id"), "left_anti")
        .select(cols.map(col): _*)
        .unionByName(feed)
        .orderBy("id", "bucket_ts")
    },

    // ST9 session variant: gap-based session windows per user via
    // Spark's session_window (one shuffle by user, sessions merged in
    // the sort-based session aggregation — no global window, state is
    // one open session per key, the same operator the streaming form
    // uses with a watermark). Oracle = classic gaps-and-islands at
    // second resolution: an event merges into the open session while
    // the gap since the previous event is <= the 30-min gap duration
    // (session_window merges its inclusive [ts, ts+gap] boundary —
    // pinned by OperatorsSpec's boundary test).
    "st05_session_window" -> Q(
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ets, value
        |  FROM events),
        |m AS (
        |  SELECT user_id, ets, value,
        |         CASE WHEN ets - lag(ets) OVER (PARTITION BY user_id
        |                ORDER BY ets) <= 1800
        |              THEN 0 ELSE 1 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT user_id, ets, value,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ets
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, min(ets) AS session_start, max(ets) AS session_end,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), unix_timestamp(col("ts")).as("ets"),
          col("value"))
        .groupBy(col("user_id"),
          session_window(timestamp_seconds(col("ets")), "30 minutes"))
        .agg(min("ets").as("session_start"), max("ets").as("session_end"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"))
        .select("user_id", "session_start", "session_end", "n_events",
          "total_value")
        .orderBy("user_id", "session_start")
    },

    // ST1 variant, state-bounded: dropDuplicatesWithinWatermark holds
    // each key only until the watermark passes it (vs dropDuplicates,
    // whose streaming state grows forever). The topic carries every
    // event TWICE across shuffled micro-batches; the streamed result
    // must still be the batch-exact distinct set. Retention is wide so
    // the bounded replay has no late drops — at cluster scale the same
    // query runs with a real delay and bounded state.
    "st06_dedup_watermark" -> Q(
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, user_id,
        |       event_type, value
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val root = Dirs.stream("st06", d)
      val ev = Tables.events(s, d)
      Topic.publishEvents(ev.unionAll(ev), s"$root/topic", nFiles = 4)
      withShufflePartitions(s, 8) {
        val deduped = Topic.decodeEvents(
            Topic.readStream(s, s"$root/topic", maxFilesPerTrigger = 2))
          .withWatermark("ts", "3650 days")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), unix_timestamp(col("ts")).as("ts_s"),
            col("user_id"), col("event_type"), col("value"))
        StreamOps.runBoundedToParquet(deduped, s"$root/ckpt", s"$root/out")
      }
      s.read.parquet(s"$root/out").orderBy("event_id")
    },

    // stream-stream interval join (JN9 as a DRIVER-ORACLED query, not
    // just a spec): view->purchase attribution per user within 12 h,
    // both sides replayed from the topic across shuffled micro-batches.
    // State is keyed by user and bounded by the watermark + range
    // condition; the wide retention makes the bounded replay converge
    // to the batch-exact join (at cluster scale the same query runs
    // with a real delay and bounded state).
    "st07_stream_stream_join" -> Q(
      """SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
        |       CAST(floor(epoch(a.ts)) AS BIGINT) AS view_ts_s,
        |       CAST(floor(epoch(b.ts)) AS BIGINT) AS purchase_ts_s,
        |       b.value AS purchase_value
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 12 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin) { (s, d) =>
      val root = Dirs.stream("st07", d)
      Topic.publishEvents(Tables.events(s, d), s"$root/topic", nFiles = 4)
      withShufflePartitions(s, 8) {
        val src = Topic.decodeEvents(
          Topic.readStream(s, s"$root/topic", maxFilesPerTrigger = 2))
        val views = src.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"),
            col("ts").as("view_ts"))
          .withWatermark("view_ts", "3650 days")
        val purchases = src.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("purchase_ts"),
            col("value").as("purchase_value"))
          .withWatermark("purchase_ts", "3650 days")
        val joined = views.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("view_ts") &&
            col("purchase_ts") <= col("view_ts") + expr("INTERVAL 12 HOURS"))
        StreamOps.runBoundedToParquet(joined
          .select(col("user_id"), col("view_id"), col("purchase_id"),
            unix_timestamp(col("view_ts")).as("view_ts_s"),
            unix_timestamp(col("purchase_ts")).as("purchase_ts_s"),
            col("purchase_value")), s"$root/ckpt", s"$root/out")
      }
      s.read.parquet(s"$root/out").orderBy("view_id", "purchase_id")
    },

    // ST9 streaming twin of st05: session windows aggregated IN the
    // stream (state = one open session per user, merged as shuffled
    // micro-batches arrive), emitted via complete-mode foreachBatch —
    // the final batch must be byte-identical to the batch gaps-and-
    // islands oracle. Sessions that straddle micro-batch boundaries
    // must merge in state, which is exactly what the batch oracle
    // cannot help getting right by construction.
    "st08_stream_session" -> Q(
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ets, value
        |  FROM events),
        |m AS (
        |  SELECT user_id, ets, value,
        |         CASE WHEN ets - lag(ets) OVER (PARTITION BY user_id
        |                ORDER BY ets) <= 1800
        |              THEN 0 ELSE 1 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT user_id, ets, value,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ets
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, min(ets) AS session_start, max(ets) AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      val root = Dirs.stream("st08", d)
      Topic.publishEvents(Tables.events(s, d), s"$root/topic", nFiles = 4)
      withShufflePartitions(s, 8) {
        val src = Topic.decodeEvents(
          Topic.readStream(s, s"$root/topic", maxFilesPerTrigger = 2))
        // DECIMAL sum: session partials accumulate in arrival order in
        // the state store — only an order-independent sum is batch-exact
        val agg = src
          .select(col("user_id"), unix_timestamp(col("ts")).as("ets"),
            col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("v"))
          .groupBy(col("user_id"),
            session_window(timestamp_seconds(col("ets")), "30 minutes"))
          .agg(min("ets").as("session_start"), max("ets").as("session_end"),
            count(lit(1)).as("n_events"),
            sum("v").cast("double").as("total_value"))
          .select("user_id", "session_start", "session_end", "n_events",
            "total_value")
        StreamOps.runBounded(agg, s"$root/ckpt", "complete") { (df, _) =>
          df.write.mode("overwrite").parquet(s"$root/out")
        }
      }
      s.read.parquet(s"$root/out").orderBy("user_id", "session_start")
    },

    // windowed trending: per tumbling hour, the top-3 event types by
    // count. Ranking is not allowed on an unfinished streaming agg, so
    // the canonical composition is windowed counts in stream state +
    // row_number INSIDE complete-mode foreachBatch over the settled
    // table — the "trending now" dashboard shape. Integer counts with
    // event-type tie-break keep every rank deterministic; the streamed
    // result must equal the batch hour-bucket top-3 exactly.
    "st09_stream_trending" -> Q(
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS w, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT w, event_type, n,
        |         row_number() OVER (PARTITION BY w
        |                            ORDER BY n DESC, event_type) AS rank
        |  FROM h)
        |SELECT CAST(floor(epoch(w)) AS BIGINT) AS w_start, rank, event_type, n
        |FROM r WHERE rank <= 3
        |ORDER BY w_start, rank""".stripMargin) { (s, d) =>
      val root = Dirs.stream("st09", d)
      Topic.publishEvents(Tables.events(s, d), s"$root/topic", nFiles = 4)
      withShufflePartitions(s, 8) {
        val src = Topic.decodeEvents(
          Topic.readStream(s, s"$root/topic", maxFilesPerTrigger = 2))
        val agg = src
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        StreamOps.runBounded(agg, s"$root/ckpt", "complete") { (df, _) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("window").orderBy(col("n").desc, col("event_type"))
          df.withColumn("rank", row_number().over(w))
            .filter(col("rank") <= 3)
            .select(unix_timestamp(col("window.start")).as("w_start"),
              col("rank"), col("event_type"), col("n"))
            .write.mode("overwrite").parquet(s"$root/out")
        }
      }
      s.read.parquet(s"$root/out").orderBy("w_start", "rank")
    },

    // A3/ST custom keyed state through the correctness gate: the
    // flatMapGroupsWithState tracker (StatefulOps.track — running
    // count + latest reading per key) fed by the shuffled topic
    // replay, its per-batch emissions MERGEd into the keyed store
    // (cumulative n is monotone, so keepMax-on-n picks the final
    // state), must converge to the batch argmax truth. event_id is the
    // sequence key: globally unique, so "value at max event_id" is
    // deterministic no matter how micro-batches slice the replay.
    "st10_stream_state_track" -> Q(
      """WITH k AS (
        |  SELECT CAST(user_id AS VARCHAR) || '|' || event_type AS key,
        |         event_id, value
        |  FROM events),
        |r AS (SELECT key, value, row_number() OVER (
        |        PARTITION BY key ORDER BY event_id DESC) AS rn
        |      FROM k),
        |n AS (SELECT key, count(*) AS n, max(event_id) AS max_event_id
        |      FROM k GROUP BY 1)
        |SELECT n.key, n.n, n.max_event_id, r.value AS last_value
        |FROM n JOIN r ON n.key = r.key AND r.rn = 1
        |ORDER BY n.key""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.streaming.StatefulOps
      val root = Dirs.stream("st10", d)
      Topic.publishEvents(Tables.events(s, d), s"$root/topic", nFiles = 4)
      withShufflePartitions(s, 8) {
        val readings = Topic.decodeEvents(
            Topic.readStream(s, s"$root/topic", maxFilesPerTrigger = 2))
          .select(concat(col("user_id"), lit("|"), col("event_type")).as("key"),
            col("event_id").as("ts"), col("value"))
          .as[StatefulOps.KeyedReading]
        StreamOps.runBounded(StatefulOps.track(s, readings), s"$root/ckpt",
            "update") { (b, _) =>
          KeyedUpsert.upsert(s, s"$root/state", b.toDF(), Seq("key"),
            numBuckets = 8, tieBreak = Some("n"), keepMaxOnMerge = true)
        }
      }
      KeyedUpsert.read(s, s"$root/state")
        .select(col("key"), col("n"), col("maxTs").as("max_event_id"),
          col("lastValue").as("last_value"))
        .orderBy("key")
    },

    // Ingest-time near-dup dedup — the 100 TB training-data front door:
    // documents arrive on a topic in micro-batches, and each batch is
    // LSH-deduped against the signature index accumulated from all
    // previous batches (Dedup.incrementalLshPairs: index side only
    // contributes stored signatures, delta buckets broadcast, no
    // index-index pairs), then its own signatures append to the index.
    // Correctness is batching-INVARIANT: each near-dup pair is found
    // exactly once — when its later member arrives (or within-batch if
    // both arrive together) — so the union of per-batch pairs must
    // equal the full-corpus batch run (d03) no matter how the stream
    // is sliced into micro-batches. The oracle is d03's, verbatim.
    "st11_stream_ingest_dedup" -> Q(
      DedupQueries.shingleCtes +
        """sigs AS (
          |  SELECT doc_id,
          |         list_transform(range(0, 12), s ->
          |           list_min(list_transform(shs, x ->
          |             md5(CAST(s AS VARCHAR) || '|' || x)))) AS sig
          |  FROM (SELECT doc_id, list(sh) AS shs FROM sh GROUP BY 1)),
          |buckets AS (
          |  SELECT doc_id, unnest(list_transform(range(0, 4), b ->
          |           md5(CAST(b AS VARCHAR) || '|' || sig[b*3+1] || '|' ||
          |               sig[b*3+2] || '|' || sig[b*3+3]))) AS bucket
          |  FROM sigs),
          |cand AS (
          |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
          |  FROM buckets a JOIN buckets b
          |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
          |SELECT a, b,
          |       round(len(list_filter(range(1, 13),
          |             i -> sa.sig[i] = sb.sig[i])) / 12.0, 4) AS est_jaccard
          |FROM cand JOIN sigs sa ON a = sa.doc_id JOIN sigs sb ON b = sb.doc_id
          |WHERE len(list_filter(range(1, 13), i -> sa.sig[i] = sb.sig[i])) / 12.0 >= 0.5
          |ORDER BY a, b""".stripMargin) { (s, d) =>
      val root = Dirs.stream("st11", d)
      withShufflePartitions(s, 8) {
        graft.streaming.IngestDedup
          .run(s, Tables.documents(s, d), root.toString,
            nFiles = 4, maxFilesPerTrigger = 1)
          .orderBy("a", "b")
      }
    },

    // streaming rollup-cascade front door: the stream maintains ONLY
    // the hour-grain decimal PARTIALS (update-mode agg + keyed MERGE);
    // day and month derive from the stored partials table by
    // reaggregation — raw events are scanned once, by the stream. The
    // oracle computes all three grains independently from gold, so the
    // gate certifies streamed-partials == batch-exact at every grain.
    "st12_stream_rollup_cascade" -> Q(PipelineQueries.cascadeSql) { (s, d) =>
      val root = Dirs.stream("st12", d)
      Topic.publishEvents(Tables.events(s, d), s"$root/topic", nFiles = 4)
      withShufflePartitions(s, 8) {
        StreamingMedallion.runHourPartials(s, s"$root/topic",
          s"$root/partials", s"$root/ckpt", maxFilesPerTrigger = 2,
          numBuckets = 8, dedupRetention = "3650 days")
      }
      graft.pipeline.Medallion.cascadeFromHourPartials(
          KeyedUpsert.read(s, s"$root/partials").drop("id"))
        .orderBy("grain", "id", "bucket_ts")
    },

    // stream-stream LEFT OUTER join (the semantics st07's inner join
    // cannot express): views with no purchase inside the 12 h window
    // must null-pad — which in a stream happens only when the GLOBAL
    // watermark (min across both inputs) passes view_ts + 12 h + delay.
    // Two far-future sentinel events (one per side, non-joining ids)
    // advance both input watermarks past every real view's expiry
    // bound, and the default no-data final micro-batch flushes the
    // expired state before the bounded run terminates. The 90-day
    // delay exceeds the data span, so the shuffled out-of-order topic
    // replay can never late-drop a real row; the sentinels sit 120
    // days out — beyond the delay, inside no real join window. The
    // oracle is the plain batch LEFT JOIN.
    "st13_stream_left_outer" -> Q(
      """SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
        |       CAST(floor(epoch(a.ts)) AS BIGINT) AS view_ts_s,
        |       CAST(floor(epoch(b.ts)) AS BIGINT) AS purchase_ts_s,
        |       b.value AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'view') a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 12 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin) { (s, d) =>
      val root = Dirs.stream("st13", d)
      val ev = Tables.events(s, d)
      Topic.publishEvents(ev, s"$root/topic", nFiles = 4)
      val maxTs = ev.agg(max("ts")).head.getTimestamp(0)
      val sentinels = s.range(1).select(
          lit(-1L).as("event_id"),
          (lit(maxTs) + expr("INTERVAL 120 DAYS")).as("ts"),
          lit(-1L).as("user_id"), lit("view").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .unionByName(s.range(1).select(
          lit(-2L).as("event_id"),
          (lit(maxTs) + expr("INTERVAL 120 DAYS")).as("ts"),
          lit(-2L).as("user_id"), lit("purchase").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props")))
      // appended after the corpus, with the sentinel files' mtimes
      // forced strictly past every corpus file: the file source orders
      // micro-batches by modification time, and on a coarse-mtime
      // filesystem a tie could land a real-data file in the
      // post-sentinel batch, ~30 days below the advanced watermark —
      // a nondeterministic late-drop. An explicit +1 min bump makes
      // "sentinels last" a property, not a race. (Deliberately local
      // java.io: the mtime bump is the LOCAL-FS stand-in for broker
      // arrival order — see Topic.publishOrderedSlices.)
      val topicDir = new java.io.File(s"$root/topic")
      val corpusFiles = topicDir.listFiles().map(_.getName).toSet
      val corpusMaxMtime = topicDir.listFiles().map(_.lastModified).max
      Topic.publishEvents(sentinels, s"$root/topic", nFiles = 1,
        append = true)
      topicDir.listFiles()
        .filter(f => !corpusFiles.contains(f.getName))
        .foreach(_.setLastModified(corpusMaxMtime + 60000L))
      withShufflePartitions(s, 8) {
        val src = Topic.decodeEvents(
          Topic.readStream(s, s"$root/topic", maxFilesPerTrigger = 4))
        val views = src.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"),
            col("ts").as("view_ts"))
          .withWatermark("view_ts", "90 days")
        val purchases = src.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("purchase_ts"),
            col("value").as("purchase_value"))
          .withWatermark("purchase_ts", "90 days")
        val joined = views.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("view_ts") &&
            col("purchase_ts") <= col("view_ts") + expr("INTERVAL 12 HOURS"),
          "leftOuter")
        StreamOps.runBoundedToParquet(joined
          .select(col("user_id"), col("view_id"), col("purchase_id"),
            unix_timestamp(col("view_ts")).as("view_ts_s"),
            unix_timestamp(col("purchase_ts")).as("purchase_ts_s"),
            col("purchase_value")), s"$root/ckpt", s"$root/out")
      }
      s.read.parquet(s"$root/out")
        .filter(col("user_id") >= 0) // the sentinels are not data
        .orderBy("view_id", "purchase_id")
    },

    // streaming data-quality gate (the managed-pipeline expectations
    // idiom at the ingest front door): every micro-batch splits into a
    // clean sink and a quarantine sink carrying failed-rule
    // attribution — ST8-style multi-writer fan-out, idempotent via
    // batchId-keyed overwrite dirs (crash-retry rewrites, never
    // duplicates). The oracle recomputes both sides from the raw
    // table, so the gate proves the stream loses, duplicates and
    // misroutes nothing.
    "st14_stream_expectations" -> Q(
      """WITH flags AS (
        |  SELECT event_type, value,
        |         (event_type != 'error') AS r1,
        |         (json_extract_string(props, '$.k') IS NOT NULL) AS r2,
        |         (value < 900) AS r3
        |  FROM events)
        |SELECT phase, grp, n, total FROM (
        |  SELECT 'clean' AS phase, event_type AS grp, count(*) AS n,
        |         round(sum(value), 2) AS total
        |  FROM flags WHERE r1 AND r2 AND r3 GROUP BY 2
        |  UNION ALL
        |  SELECT 'quarantine',
        |         concat_ws(',', CASE WHEN NOT r1 THEN 'not_error' END,
        |                        CASE WHEN NOT r2 THEN 'props_has_k' END,
        |                        CASE WHEN NOT r3 THEN 'value_small' END),
        |         count(*), CAST(NULL AS DOUBLE)
        |  FROM flags WHERE NOT (r1 AND r2 AND r3) GROUP BY 2)
        |ORDER BY phase, grp""".stripMargin) { (s, d) =>
      import graft.operators.Expectations
      import graft.operators.Expectations.Rule
      val root = Dirs.stream("st14", d)
      Topic.publishEvents(Tables.events(s, d), s"$root/topic", nFiles = 4)
      val rules = Seq(
        Rule("not_error", col("event_type") =!= "error"),
        Rule("props_has_k", get_json_object(col("props"), "$.k").isNotNull),
        Rule("value_small", col("value") < 900))
      withShufflePartitions(s, 8) {
        val src = Topic.decodeEvents(
          Topic.readStream(s, s"$root/topic", maxFilesPerTrigger = 2))
        StreamOps.runBounded(src, s"$root/ckpt") { (batch, id) =>
          val (clean, quar) = Expectations.split(batch, rules)
          clean.write.mode("overwrite")
            .parquet(s"$root/clean/batch=$id")
          quar.withColumn("failed", array_join(col("failed_rules"), ","))
            .drop("failed_rules")
            .write.mode("overwrite")
            .parquet(s"$root/quarantine/batch=$id")
        }
      }
      val clean = s.read.parquet(s"$root/clean")
        .groupBy(col("event_type").as("grp"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(lit("clean").as("phase"), col("grp"), col("n"), col("total"))
      val quar = s.read.parquet(s"$root/quarantine")
        .groupBy(col("failed").as("grp"))
        .agg(count(lit(1)).as("n"))
        .select(lit("quarantine").as("phase"), col("grp"), col("n"),
          lit(null).cast("double").as("total"))
      clean.unionByName(quar).orderBy("phase", "grp")
    },

    // STREAMING SCD2 dimension maintenance: the change log arrives as
    // time-ordered micro-batches and each batch folds into a
    // KeyedUpsert-versioned dim MERGEd on (user_id, valid_from) —
    // O(delta) per batch (only the batch keys' OPEN rows join the
    // fold; closed history is never rescanned), idempotent under
    // batch replay (StreamingSpec pins it). The oracle is p20's
    // one-shot whole-log derivation, so the gate certifies
    // streamed-incremental == batch at four-way granularity — the
    // streaming generalization of the reference's repeated
    // dim-maintenance notebook runs ([SU]:77-96).
    "st15_stream_scd2" -> Q(
      PipelineQueries.all("p20_scd2_dim").oracle.get) { (s, d) =>
      val root = Dirs.stream("st15", d)
      publishEventsTimeOrdered(s, Tables.events(s, d), s"$root/topic",
        nSlices = 4)
      withShufflePartitions(s, 8) {
        graft.streaming.StreamingScd2.runEventsDim(s, s"$root/topic",
            s"$root/dim", s"$root/ckpt", maxFilesPerTrigger = 1)
          .orderBy("user_id", "valid_from", "event_type")
      }
    },

    // INCREMENTAL corpus build: t28's topology under micro-batch
    // arrival (graft.streaming.StreamingCorpusBuild) — per batch:
    // quality gate, incremental LSH vs the accumulated signature index
    // (st11's machinery), shingle/token stores, incremental
    // decontamination deltas; then ONE publish step cuts the shard
    // manifest from the accumulated compact tables. The oracle derives
    // the same manifest from the whole corpus in one SQL pass (the
    // st11 batching-invariance pattern: the stream's published
    // manifest must equal the batch topology regardless of slicing) —
    // quality gate -> MinHash(12)/LSH(4x3) pairs -> recursive-CTE
    // clusters -> canonical keep -> shingle-overlap decontam ->
    // cluster-keyed md5 split -> md5-ranked 64-doc shards -> 2048-token
    // pack manifest.
    "st16_stream_corpus_build" -> Q(corpusBuildOracle(""))
    { (s, d) =>
      val root = Dirs.stream("st16", d)
      withShufflePartitions(s, 8) {
        // Some(64): the t28 testdata shard shape the DuckDB oracle
        // pins; a production caller omits it and gets the derived
        // scale-safe size
        graft.streaming.StreamingCorpusBuild.run(s, Tables.documents(s, d),
          root.toString, nFiles = 4, maxFilesPerTrigger = 1,
          shardSize = Some(64))
      }
    },

    // quarantine-PROTECTED corpus build (st25) — st21's routing and
    // st16's incremental build composed on ONE store-root at the st24
    // single-commit seam: the shared store/decide step runs once per
    // micro-batch, every arrival is routed, and ONLY clean batches
    // reach the build's per-batch work — a firing batch's documents
    // (train AND eval side) contribute nothing to the published shard
    // manifest. Oracle = the st16 one-shot topology restricted to the
    // non-fired batches of the pinned sf0.01 doc_id-mod-4 slicing
    // (batch 2 fires — the FiringPatternCanarySpec pattern): one WHERE
    // on the shared nd CTE, everything downstream identical. A
    // divergent Spark-side firing decision feeds a whole batch into
    // (or starves it from) the manifest: hash-red.
    "st25_stream_curated_corpus" ->
      Q(corpusBuildOracle(" WHERE doc_id % 4 <> 2")) { (s, d) =>
      val root = Dirs.stream("st25", d)
      withShufflePartitions(s, 8) {
        // Some(64): the oracle-pinned t28 shard shape (see st16)
        graft.streaming.StreamingCuratedCorpus.run(s,
          Tables.documents(s, d), root.toString, nSlices = 4,
          shardSize = Some(64))
      }
    },

    // streaming score-DRIFT monitor — the ingest guard that catches a
    // source going bad before its documents pollute the corpus: each
    // micro-batch's trained-classifier score histogram (t33's 0.02
    // buckets of t31's bit-exact scores) is compared against the
    // ACCUMULATED histogram of all earlier batches. Drift is an exact
    // integer cross-multiplied L1 distance (no division in state or
    // numerator); the presented ratio is ONE IEEE division. Batches
    // are doc_id-mod-4 arrival waves with mtime-forced order, so the
    // oracle replays the same membership in plain SQL; the first
    // batch has no prior and reports 0.
    "st17_stream_drift" -> Q(
      s"""WITH w AS (
         |  SELECT doc_id,
         |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
         |      'g')), ' ') AS ws
         |  FROM documents),
         |d AS (SELECT CAST(doc_id % 4 AS BIGINT) AS batch,
         |        ${TextQueries.classifierScoreSql} AS score
         |      FROM w),
         |h AS (SELECT batch,
         |        coalesce(CAST(floor(score * 50) AS BIGINT), -999) AS bucket,
         |        count(*) AS cnt
         |      FROM d GROUP BY 1, 2),
         |$driftTailSql""".stripMargin) { (s, d) =>
      val root = Dirs.stream("st17", d)
      withShufflePartitions(s, 8) {
        graft.streaming.StreamDrift.run(s, Tables.documents(s, d),
          root.toString, nSlices = 4)
      }
    },

    // streaming LENGTH-drift monitor — StreamDrift's second registered
    // axis: the same per-batch-vs-accumulated-prior integer L1
    // machinery as st17, but the histogram is over
    // floor(log2(token count)) (~12 buckets). A scraper that starts
    // TRUNCATING documents shifts the length distribution before any
    // quality score moves — this is the axis that fires first. The
    // bucket is integer bit-length arithmetic (length(bin(n)) - 1),
    // never an IEEE log2 whose floor could straddle engine rounding at
    // exact powers of two; both engines compute the identical unpadded
    // binary string.
    "st18_stream_len_drift" -> Q(
      s"""WITH w AS (
         |  SELECT doc_id,
         |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
         |      'g')), ' ') AS ws
         |  FROM documents),
         |d AS (SELECT CAST(doc_id % 4 AS BIGINT) AS batch,
         |        coalesce(CAST(length(bin(len(ws))) - 1 AS BIGINT),
         |          -999) AS bucket
         |      FROM w),
         |h AS (SELECT batch, bucket, count(*) AS cnt
         |      FROM d GROUP BY 1, 2),
         |$driftTailSql""".stripMargin) { (s, d) =>
      val root = Dirs.stream("st18", d)
      withShufflePartitions(s, 8) {
        graft.streaming.StreamDrift.run(s, Tables.documents(s, d),
          root.toString, nSlices = 4,
          bucket = graft.streaming.StreamDrift.tokenLogBucket)
      }
    },

    // streaming LANGUAGE-distribution drift — the third registered
    // drift axis, completing the triple (score st17 / length st18 /
    // LANGUAGE st19): each batch's histogram over the t03
    // keyword-profile language/domain id (a 3-bucket categorical axis
    // + the NULL sentinel) against the accumulated prior, same exact
    // integer cross-multiplied L1. A scraper that swaps PROVIDERS
    // shifts the language mix before either score or length moves —
    // this axis fires first on that failure. NULL text goes to the
    // -999 sentinel explicitly (profileId alone would coerce it to
    // the head profile, hiding an empty-payload spike in the dominant
    // language's cell).
    "st19_stream_lang_drift" -> Q {
      val vocabs = TextQueries.Profiles.map { case (_, vocab) =>
        vocab.map(w => s"'$w'").mkString("(", ",", ")")
      }
      s"""WITH s AS (
         |  SELECT doc_id, text,
         |    len(list_filter(string_split($streamNorm, ' '),
         |        w -> w IN ${vocabs(0)})) AS s1,
         |    len(list_filter(string_split($streamNorm, ' '),
         |        w -> w IN ${vocabs(1)})) AS s2,
         |    len(list_filter(string_split($streamNorm, ' '),
         |        w -> w IN ${vocabs(2)})) AS s3
         |  FROM documents),
         |d AS (SELECT CAST(doc_id % 4 AS BIGINT) AS batch,
         |        CAST(CASE WHEN text IS NULL THEN -999
         |                  WHEN s3 > greatest(s1, s2) THEN 2
         |                  WHEN s2 > s1 THEN 1 ELSE 0 END AS BIGINT)
         |          AS bucket
         |      FROM s),
         |h AS (SELECT batch, bucket, count(*) AS cnt
         |      FROM d GROUP BY 1, 2),
         |$driftTailSql""".stripMargin
    } { (s, d) =>
      val root = Dirs.stream("st19", d)
      withShufflePartitions(s, 8) {
        graft.streaming.StreamDrift.run(s, Tables.documents(s, d),
          root.toString, nSlices = 4,
          bucket = graft.streaming.StreamDrift.profileBucket(
            TextQueries.Profiles))
      }
    },

    // drift → REFIT (the monitoring family finally ACTS): batch 0
    // bootstraps model version 1 (t35's perceptron on batch 0 alone);
    // each later batch's st18 length-drift ratio is tested against the
    // pinned integer cross-multiplied threshold, and a FIRING batch
    // triggers a refit on the accumulated CLEAN batches before it,
    // MERGE-published as a new (version, bucket) row set through the
    // KeyedUpsert sink. At sf0.01 the doc_id%4 slicing fires exactly
    // at batch 2 (ratios 112000 / 176000 / 48000 ppm vs the 150000
    // threshold), so the oracle replays TWO perceptron chains — the
    // a-chain on batch 0 (version 1) and the b-chain on clean batches
    // {0,1} (version 2, fired_batch 2). A divergent firing decision on
    // the Spark side surfaces as a missing/extra version or wrong
    // fired_batch: hash-red.
    "st20_stream_drift_refit" -> Q {
      val iters = graft.text.ClassifierTrain.Iters
      s"""WITH ${TextQueries.perceptronCtes(iters,
             "\n    AND doc_id % 4 = 0", "a")},
         |${TextQueries.perceptronCtes(iters,
             "\n    AND doc_id % 4 IN (0, 1)", "b")}
         |SELECT version, fired_batch, bucket, weight FROM (
         |  SELECT CAST(1 AS BIGINT) AS version,
         |         CAST(0 AS BIGINT) AS fired_batch,
         |         w.bucket, w.w AS weight
         |  FROM aw$iters w
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), CAST(2 AS BIGINT), w.bucket, w.w
         |  FROM bw$iters w)
         |ORDER BY version, bucket""".stripMargin
    } { (s, d) =>
      val root = Dirs.stream("st20", d)
      withShufflePartitions(s, 8) {
        graft.streaming.StreamRefit.run(s, Tables.documents(s, d),
          root.toString, nSlices = 4)
      }
    },

    // drift → QUARANTINE (st20's DATA-plane twin): a firing batch's
    // documents are routed to a quarantine store at INGEST time —
    // suspect data never lands in the curated corpus, not even
    // transiently. Route is a deterministic function of the
    // accumulated histogram store (the same st18 axis and pinned
    // integer cross-multiplied threshold as st20, firing exactly at
    // batch 2 on the sf0.01 doc_id-mod-4 slicing), so the oracle
    // replays the pinned pattern per ROW: a divergent Spark-side
    // decision re-routes a whole batch and goes hash-red on every one
    // of its rows. The routed store is partitioned by (route, batch) —
    // downstream consumers prune to route=corpus at the parquet-scan
    // level.
    "st21_stream_quarantine" -> Q {
      """SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS batch,
        |       CASE WHEN doc_id % 4 = 2 THEN 'quarantine'
        |            ELSE 'corpus' END AS route
        |FROM documents ORDER BY doc_id""".stripMargin
    } { (s, d) =>
      val root = Dirs.stream("st21", d)
      withShufflePartitions(s, 8) {
        graft.streaming.StreamQuarantine.run(s, Tables.documents(s, d),
          root.toString, nSlices = 4)
      }
    },

    // streaming MERGEABLE-SKETCH state: per-batch HLL sketches of
    // distinct users (q44's engine-portable, bit-deterministic sketch),
    // folded into a running CHECKPOINT (cum/batch=b = bucket-wise max
    // of cum/batch=b-1 and batch b — associativity makes the
    // checkpoint equal the full prefix merge at two <= |types|·256-row
    // frames per batch, bounding the stream-lifetime axis the r14
    // prefix self-join left quadratic). The oracle never sees the
    // stored state: it computes each event_id-mod-4 prefix's estimate
    // DIRECTLY from raw events over the EXPLICIT range(4) prefix set —
    // which now matches the Spark side exactly even for an empty
    // arrival slice, because the checkpoint carries forward and emits
    // that batch's as-of row (spec-pinned; closes the r14 ADVICE
    // range(4)-assumption edge). Equality holds because bucket-wise
    // max is associative (merge == direct, the q47 argument) — exactly
    // the property that makes the streaming merge path safe.
    "st22_stream_hll" -> Q {
      """WITH h AS (
        |  SELECT CAST(event_id % 4 AS BIGINT) AS slice, event_type,
        |         list_reduce(list_transform(
        |             string_split(md5(CAST(user_id AS VARCHAR)), ''),
        |             c -> CAST(ascii(c) AS BIGINT)),
        |           (acc, x) -> (acc * 31 + x) % 1073741789) * 1073741824 +
        |         list_reduce(list_transform(
        |             string_split(md5(CAST(user_id AS VARCHAR)), ''),
        |             c -> CAST(ascii(c) AS BIGINT)),
        |           (acc, x) -> (acc * 131 + x) % 1073741783) AS hh
        |  FROM events),
        |p AS (
        |  SELECT a.range AS batch, event_type,
        |         hh % 256 AS bucket,
        |         CASE WHEN hh // 256 = 0 THEN 53
        |              ELSE 53 - length(bin(hh // 256)) END AS rank
        |  FROM h, range(4) a WHERE h.slice <= a.range),
        |mx AS (SELECT batch, event_type, bucket, max(rank) AS rank
        |       FROM p GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT batch, event_type,
        |         CAST(sum(1::BIGINT << CAST(53 - rank AS INT)) AS BIGINT)
        |           AS sp,
        |         count(*) AS nb
        |  FROM mx GROUP BY 1, 2),
        |raw AS (
        |  SELECT batch, event_type, nb,
        |         (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
        |           * 9007199254740992.0
        |           / CAST(sp + (256 - nb) * 9007199254740992 AS DOUBLE)
        |           AS r
        |  FROM agg)
        |SELECT batch, event_type, nb,
        |       round(CASE WHEN r <= 640.0 AND nb < 256
        |             THEN 256.0 * ln(256.0 / CAST(256 - nb AS DOUBLE))
        |             ELSE r END, 4) AS hll_est
        |FROM raw ORDER BY batch, event_type""".stripMargin
    } { (s, d) =>
      val root = Dirs.stream("st22", d)
      withShufflePartitions(s, 8) {
        graft.streaming.StreamSketch.run(s, Tables.events(s, d),
          root.toString, nSlices = 4)
      }
    },

    // model PROMOTION gate (champion/challenger — the lifecycle step
    // st20 skips): a firing batch's refit is a CANDIDATE, not a
    // release — the challenger fits on the clean pool's TRAIN split
    // (t37's leakage rule), champion and challenger are scored on the
    // VAL split in ONE projection (both weight vectors as plan
    // reference objects — the t38 all-snapshots trick), and the
    // candidate publishes a new version only if its exact-integer val
    // accuracy >= the champion's; otherwise a rejected-candidate row
    // set is the audit trail. Batch 0 bootstraps version 1
    // (champ_ok = -1 sentinel: no champion exists yet). The firing
    // pattern is st20's pinned sf0.01 pattern (batch 2 fires); the
    // oracle replays BOTH perceptron chains over t37's split-fold
    // predicates and derives the promotion comparison itself — a
    // divergent Spark-side decision flips status/version on 64 rows:
    // hash-red.
    "st23_stream_promote" -> Q {
      val iters = graft.text.ClassifierTrain.Iters
      s"""WITH ${TextQueries.perceptronCtes(iters,
             s"\n    AND doc_id % 4 = 0 AND $splitFoldSql < 80", "a")},
         |${TextQueries.perceptronCtes(iters,
             s"\n    AND doc_id % 4 IN (0, 1) AND $splitFoldSql < 80", "b")},
         |${promoteValCtes("a", "\n    AND doc_id % 4 = 0")},
         |${promoteValCtes("b", "\n    AND doc_id % 4 IN (0, 1)")},
         |${promoteScoreCte("sa0", "avx", s"aw$iters")},
         |${promoteScoreCte("s2a", "bvx", s"aw$iters")},
         |${promoteScoreCte("s2b", "bvx", s"bw$iters")},
         |acc0 AS (SELECT CAST(count(*) FILTER (
         |             WHERE v.y * coalesce(s.s, 0) > 0) AS BIGINT) AS ok,
         |           CAST(count(*) AS BIGINT) AS n
         |         FROM av v LEFT JOIN sa0 s ON s.doc_id = v.doc_id),
         |$promoteAcc2Cte
         |SELECT fired_batch, bucket, weight, champ_ok, chall_ok, n_val,
         |       version, status FROM (
         |  SELECT CAST(0 AS BIGINT) AS fired_batch, w.bucket,
         |         w.w AS weight, CAST(-1 AS BIGINT) AS champ_ok,
         |         acc0.ok AS chall_ok, acc0.n AS n_val,
         |         CAST(1 AS BIGINT) AS version, 'published' AS status
         |  FROM aw$iters w, acc0
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), w.bucket, w.w,
         |         acc2.champ_ok, acc2.chall_ok, acc2.n,
         |         CASE WHEN acc2.chall_ok >= acc2.champ_ok
         |              THEN CAST(2 AS BIGINT) ELSE NULL END,
         |         CASE WHEN acc2.chall_ok >= acc2.champ_ok
         |              THEN 'published' ELSE 'rejected' END
         |  FROM bw$iters w, acc2)
         |ORDER BY fired_batch, bucket""".stripMargin
    } { (s, d) =>
      val root = Dirs.stream("st23", d)
      withShufflePartitions(s, 8) {
        graft.streaming.StreamPromote.run(s, Tables.documents(s, d),
          root.toString, nSlices = 4)
      }
    },

    // curation LINEAGE — the actor family composed against ONE shared
    // store-root: the shared store/decide step runs ONCE per batch in
    // the composing caller (hist/cumhist commit once, not once per
    // actor) and routeBatch/gateBatch act on the same decision, emitting
    // the per-document record a production curation system keeps:
    // arrival batch, assigned route, and the model version SERVING at
    // ingest (version published strictly before the batch; 0 = the
    // pre-bootstrap sentinel for batch 0; a version published on
    // firing batch b serves from b+1, never retroactively). The
    // oracle replays the pinned firing pattern (batch 2) for the
    // route, and derives the batch-3 serving version from the SAME
    // champion/challenger comparison st23 pins — a divergent
    // promotion decision re-labels a whole batch's lineage rows:
    // hash-red.
    "st24_stream_lineage" -> Q {
      val iters = graft.text.ClassifierTrain.Iters
      s"""WITH ${TextQueries.perceptronCtes(iters,
             s"\n    AND doc_id % 4 = 0 AND $splitFoldSql < 80", "a")},
         |${TextQueries.perceptronCtes(iters,
             s"\n    AND doc_id % 4 IN (0, 1) AND $splitFoldSql < 80", "b")},
         |${promoteValCtes("b", "\n    AND doc_id % 4 IN (0, 1)")},
         |${promoteScoreCte("s2a", "bvx", s"aw$iters")},
         |${promoteScoreCte("s2b", "bvx", s"bw$iters")},
         |$promoteAcc2Cte
         |SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS batch,
         |       CASE WHEN doc_id % 4 = 2 THEN 'quarantine'
         |            ELSE 'corpus' END AS route,
         |       CASE WHEN doc_id % 4 = 0 THEN CAST(0 AS BIGINT)
         |            WHEN doc_id % 4 = 3
         |              AND acc2.chall_ok >= acc2.champ_ok
         |              THEN CAST(2 AS BIGINT)
         |            ELSE CAST(1 AS BIGINT) END AS serving_version
         |FROM documents, acc2
         |ORDER BY doc_id""".stripMargin
    } { (s, d) =>
      val root = Dirs.stream("st24", d)
      withShufflePartitions(s, 8) {
        graft.streaming.StreamLineage.run(s, Tables.documents(s, d),
          root.toString, nSlices = 4)
      }
    }
  )
}
