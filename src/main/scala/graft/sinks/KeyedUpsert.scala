package graft.sinks

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** MERGE-semantics keyed upsert onto plain Parquet (SURVEY.md K4): the
  * reference uses `DeltaTable.merge(batch, keys).whenMatched.updateAll.
  * whenNotMatched.insertAll` from `foreachBatch`
  * (`Gold Aggregation/OLD - Step 05 ...scala:41-55`). The scalable
  * equivalent without Delta is hash-bucketed rewrite behind a snapshot
  * manifest — a minimal transaction log:
  *
  *  - rows are hash-bucketed on `__bucket = xxhash64(keys) % N`;
  *  - a batch only touches the buckets its keys hash into: read those
  *    buckets' live directories, merge, and write the result into a
  *    fresh immutable commit directory (`data/c<version>-<nonce>/`);
  *  - the commit point is ONE atomic file rename publishing
  *    `_manifests/v<version>.txt`, which maps every live bucket to the
  *    directory that currently holds it. A crash before the rename
  *    leaves the previous version fully intact (the half-written commit
  *    dir is unreferenced garbage, reclaimed by vacuum).
  *  - the manifest header records the commit (`#operation=`,
  *    `#commitMs=`, `#touchedBuckets=`, `#filesWritten=`) and the
  *    table's metadata as Delta's log `metaData` action does: the key
  *    columns (`#keys=`), the bucket count (`#numBuckets=`) and the
  *    schema (`#schema=`). All seven lines are required: a manifest
  *    that lacks one fails by name. A read is one manifest listing, one
  *    manifest read and a listing of the live bucket dirs; the
  *    manifest, not a `DataSource` resolution, names the files a query
  *    reads ([[SnapshotIndex]]), and no Spark job runs. A filter that
  *    fixes every key column to a literal reads the one bucket those
  *    literals hash into. On a session with [[graft.GraftExtensions]]
  *    registered, a scan also runs no job when collected: if it is the
  *    whole query (a filter and projection, collected or taken) and the
  *    files it selects (that one bucket's, else every live file) are at
  *    most [[DriverScan.MaxFiles]] and add up to at most the smaller
  *    of [[DriverScan.MaxBytes]] and `spark.sql.files.maxPartitionBytes`,
  *    it is read on the driver with its filters and projection
  *    ([[DriverScanExec]]). The driver decodes each data file once per
  *    JVM and keeps its rows in a bounded cache ([[DriverScan.Decoded]],
  *    at most [[DriverScan.CacheBytes]]); since a commit never rewrites
  *    a file, a later driver read of it opens nothing. A larger scan,
  *    and a scan under an aggregate, a join or a MERGE's union, runs
  *    Spark's file scan.
  *
  * The manifest chain doubles as a version log (the reference's
  * `DESCRIBE HISTORY` / `startingVersion` replay, `Query the Metric
  * tables/Query the delta tables.scala:702`, `Gold state/Step
  * 04-04b...scala`): `read(version = Some(v))` pins a snapshot,
  * `changesSince(v)` re-reads only buckets that changed after v.
  *
  * Cost per micro-batch is O(|batch| + |touched buckets|), independent
  * of total table size — the property that makes MERGE viable at 100 TB
  * (with N sized so a bucket fits an executor; compose with a date
  * partition for time-series tables). A commit runs ONE shuffle (the
  * batch and the touched buckets' live rows, clustered by bucket) and
  * writes ONE file per touched bucket. Replaying the same batch is
  * idempotent: the merge converges to the same rows. Writers are
  * single-owner per table (as in the reference's one-stream-per-table
  * layout); a racing writer loses the manifest rename and fails loudly.
  */
object KeyedUpsert {

  val BucketCol = "__bucket"
  private val ManifestDir = "_manifests"
  private val DataDir = "data"
  private val SrcCol = "__src" // merge tag: 1 incoming, 0 existing
  /** The header lines every manifest carries, in this order. */
  private val HeaderKeys = Seq("operation", "commitMs", "touchedBuckets",
    "filesWritten", "keys", "numBuckets", "schema")

  /** `__bucket = pmod(xxhash64(keys), n)`; [[SnapshotIndex]] evaluates
    * the same expression over a lookup's literals. */
  private def bucketed(df: DataFrame, keyCols: Seq[String], n: Int): DataFrame =
    df.withColumn(BucketCol,
      pmod(xxhash64(keyCols.map(col): _*), lit(n.toLong)))

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".txt"))
      name.stripPrefix("v").stripSuffix(".txt").toLongOption
    else None

  /** One DESCRIBE HISTORY row: the commit metadata recorded in the
    * manifest header at commit time (`Query the Metric tables/Query the
    * delta tables.scala:702`). `touchedBuckets` is the number of bucket
    * directories the commit rewrote — the unit of work the layout
    * promises stays O(batch), not O(table) — and `filesWritten` the
    * parquet files it wrote (one per rewritten bucket). */
  case class Commit(version: Long, operation: String, commitMs: Long,
      touchedBuckets: Long, filesWritten: Long)

  /** The table metadata every header carries forward: key columns,
    * bucket count and the schema as one JSON line. */
  private case class Meta(keys: Seq[String], numBuckets: Int,
      schemaJson: String) {
    lazy val schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** One version's manifest: its commit, the table metadata, and
    * bucket -> table-relative live directory. */
  private case class Manifest(commit: Commit, meta: Meta,
      buckets: Map[Long, String]) {

    /** A MERGE or DELETE must bucket keys as the table does: with other
      * key columns or another bucket count a key would go live in a
      * second bucket and read back twice. */
    def requireLayout(targetDir: String, keyCols: Seq[String], n: Int): Unit =
      require(meta.keys == keyCols && meta.numBuckets == n,
        s"$targetDir is bucketed by keys=${meta.keys.mkString(",")} " +
        s"numBuckets=${meta.numBuckets}; this call asks for " +
        s"keys=${keyCols.mkString(",")} numBuckets=$n")
  }

  /** One table's manifest chain: the table path, its FileSystem and ONE
    * lazy `_manifests/` listing, against which every version resolves. */
  private final class Table(spark: SparkSession, val dir: String) {
    val target = new Path(dir)
    val fs: FileSystem = target.getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** Committed versions, ascending; a missing manifest dir (a table
      * never written) lists as empty. */
    lazy val versions: Seq[Long] =
      try fs.listStatus(new Path(target, ManifestDir)).toSeq
        .flatMap(s => versionOf(s.getPath.getName)).sorted
      catch { case _: FileNotFoundException => Seq.empty }

    private def file(v: Long): Path = new Path(target, f"$ManifestDir/v$v%08d.txt")

    /** Resolve a requested version (default latest) against the
      * retained chain, failing with a meaningful message (naming the
      * earliest retained version) when it was vacuumed — instead of a
      * raw FileNotFoundException from the manifest read. */
    def resolve(requested: Option[Long]): Long = {
      if (versions.isEmpty) throw new IllegalArgumentException(
        s"no committed version in $dir")
      requested match {
        case None => versions.last
        case Some(v) if versions.contains(v) => v
        case Some(v) => throw new IllegalArgumentException(
          s"version $v of $dir has been vacuumed or never existed; " +
          s"earliest available is ${versions.head}, latest is ${versions.last}")
      }
    }

    /** Read and parse the version's manifest in ONE file read. */
    def load(v: Long): Manifest = {
      val in = fs.open(file(v))
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      val (header, body) = text.linesIterator.filter(_.nonEmpty).toSeq
        .partition(_.startsWith("#"))
      val h = header.map(_.stripPrefix("#").split("=", 2))
        .collect { case Array(k, x) => k -> x }.toMap
      def get(k: String): String = h.getOrElse(k,
        throw new IllegalStateException(s"manifest ${file(v)} has no #$k= line"))
      Manifest(
        Commit(v, get("operation"), get("commitMs").toLong,
          get("touchedBuckets").toLong, get("filesWritten").toLong),
        Meta(get("keys").split(',').toSeq, get("numBuckets").toInt, get("schema")),
        body.map { line =>
          val Array(bk, rel) = line.split('\t')
          bk.toLong -> rel
        }.toMap)
    }

    def manifest(requested: Option[Long] = None): Manifest = load(resolve(requested))

    /** Scan `dirs` (bucket -> table-relative dir) of manifest `m` with
      * its recorded schema, on a [[SnapshotIndex]]: no path resolution,
      * no footer read. No dirs reads zero rows of that schema. */
    def scan(m: Manifest, dirs: Map[Long, String]): DataFrame =
      spark.baseRelationToDataFrame(HadoopFsRelation(
        new SnapshotIndex(fs, target, dirs, m.meta.keys, m.meta.numBuckets),
        new StructType(), Shim.asNullable(m.meta.schema), None,
        new ParquetFileFormat, Map.empty)(spark))

    /** Publish `mapping` as version `v`: write a temp file, then rename
      * — the rename IS the commit; it fails (loudly) if the version was
      * concurrently taken. The header records the DESCRIBE HISTORY
      * metadata: operation name, wall-clock commit time, and how many
      * bucket directories and files this commit (re)wrote; then the
      * table metadata `meta`. Then vacuum down to `retain` versions. */
    def commit(v: Long, mapping: Map[Long, String], operation: String,
        touchedBuckets: Long, filesWritten: Long, meta: Meta,
        retain: Int): Unit = {
      val manifests = new Path(target, ManifestDir)
      fs.mkdirs(manifests)
      val tmp = new Path(manifests, s".tmp-$v-${System.nanoTime()}")
      val out = fs.create(tmp, false)
      val header = HeaderKeys.zip(Seq(operation, System.currentTimeMillis(),
        touchedBuckets, filesWritten, meta.keys.mkString(","),
        meta.numBuckets, meta.schemaJson)).map { case (k, x) => s"#$k=$x\n" }
      try out.write((header.mkString + mapping.toSeq.sortBy(_._1)
        .map { case (bk, rel) => s"$bk\t$rel" }
        .mkString("\n")).getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val dst = file(v)
      if (fs.exists(dst) || !fs.rename(tmp, dst)) {
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"concurrent commit of version $v to $target")
      }
      vacuum(v, retain)
    }

    /** The one bucket writer behind MERGE, DELETE and OPTIMIZE: cluster
      * `rows` (carrying [[BucketCol]]) by bucket so each bucket is whole
      * in one task — one file per bucket — sorted by `sortCols` inside
      * it: parquet row-group min/max on the leading sort column then
      * lets a point lookup (read().filter(key === x)) skip row groups.
      * Commits version `v` as `base` with the `replaced` buckets
      * remapped to the fresh commit dir; a replaced bucket that
      * received no rows leaves the manifest. The header records the
      * layout (`keyCols`, `n`) and `rows`' schema.
      * `repartition` (not rebalance) lets AQE coalesce small buckets
      * into one task but never split one. */
    def write(v: Long, rows: DataFrame, sortCols: Seq[String],
        base: Map[Long, String], replaced: Set[Long], operation: String,
        retain: Int, keyCols: Seq[String], n: Int): Unit = {
      val commitRel = f"$DataDir/c$v%08d-${System.nanoTime()}"
      val commitDir = new Path(target, commitRel)
      rows.repartition(col(BucketCol))
        .sortWithinPartitions((BucketCol +: sortCols).map(col): _*)
        .write
        // the manifest rename is the commit point; nothing reads _SUCCESS
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy(BucketCol).parquet(commitDir.toString)
      // one glob yields both the written buckets and files; a plain
      // FileStatus never loads permissions, where listFiles' located
      // status forks `ls -ld` per file on a local FS without native IO
      val files = fs.globStatus(new Path(commitDir, s"$BucketCol=*/*.parquet"))
        .toSeq.map(_.getPath)
      val written = files.map(_.getParent.getName.stripPrefix(s"$BucketCol="))
        .distinct.map(_.toLong)
      commit(v, base -- replaced ++
        written.map(bk => bk -> s"$commitRel/$BucketCol=$bk"),
        operation, replaced.size.toLong, files.size.toLong,
        Meta(keyCols, n, StructType(rows.schema.filterNot(_.name == BucketCol)).json),
        retain)
    }

    /** Drop manifests older than the newest `retain`, then any commit
      * dir no retained manifest references: in this order, a crash in
      * between leaves only orphan dirs (reclaimed by the next vacuum),
      * never a listed version whose data is gone. The chain is this
      * handle's listing plus the just-committed `latest` (a racing
      * commit in between would have taken `latest` first). Only dirs
      * whose version is <= `latest` are candidates, so an in-flight
      * writer's not-yet-committed directory is never reclaimed from
      * under it. */
    private def vacuum(latest: Long, retain: Int): Unit = {
      val (expired, kept) = (versions :+ latest).partition(_ <= latest - retain)
      val referenced = kept.flatMap(v => load(v).buckets.values)
        .map(_.split('/')(1)).toSet // data/<commit>/__bucket=K -> <commit>
      expired.foreach(v => fs.delete(file(v), false))
      val dataDir = new Path(target, DataDir)
      if (fs.exists(dataDir)) fs.listStatus(dataDir).toSeq
        .map(_.getPath)
        .filter { p =>
          val name = p.getName
          !referenced.contains(name) &&
            name.stripPrefix("c").takeWhile(_.isDigit).toLongOption
              .exists(_ <= latest)
        }
        .foreach(fs.delete(_, true))
    }
  }

  /** Committed versions, ascending; empty for a table never written. */
  def versions(spark: SparkSession, targetDir: String): Seq[Long] =
    new Table(spark, targetDir).versions

  /** DESCRIBE HISTORY analog, ascending by version. */
  def history(spark: SparkSession, targetDir: String): Seq[Commit] = {
    val t = new Table(spark, targetDir)
    t.versions.map(t.load(_).commit)
  }

  /** The prologue MERGE and DELETE share: `rows` bucketed and persisted
    * for `body`, with ONE pass deciding emptiness AND the touched
    * buckets (filling the persist on the way — a separate `isEmpty`
    * cost a full extra evaluation of the input plan, guide §1.2). An
    * empty `rows` commits nothing; otherwise `body` gets the bucketed
    * rows, the buckets they touch, the table and its current manifest
    * (None for a table never written), whose layout must match. */
  private def touching(spark: SparkSession, targetDir: String,
      rows: DataFrame, keyCols: Seq[String], n: Int)(
      body: (DataFrame, Set[Long], Table, Option[Manifest]) => Unit): Unit = {
    val b = bucketed(rows, keyCols, n).persist()
    try {
      val touched = b.select(BucketCol).distinct()
        .collect().map(_.getLong(0)).toSet // bounded by numBuckets
      if (touched.nonEmpty) {
        val t = new Table(spark, targetDir)
        val m = t.versions.lastOption.map(t.load)
        m.foreach(_.requireLayout(targetDir, keyCols, n))
        body(b, touched, t, m)
      }
    } finally b.unpersist()
  }

  /** Upsert `batch` into `targetDir` matching on `keyCols`. Within a
    * batch, later rows win per `tieBreak` (descending) when given,
    * otherwise any one row per key is kept. Against EXISTING rows the
    * incoming row wins — unless `keepMaxOnMerge`, where the tieBreak
    * also arbitrates against them and an incoming row wins only on a
    * greater-or-equal tieBreak: the conditional MERGE ("update only if
    * newer") the reference's latest-table maintenance needs, which
    * makes the sink correct under out-of-order batch replay. Each call
    * commits one new version; versions older than the newest
    * `retainVersions` are vacuumed. `keyCols` and `numBuckets` must be
    * the ones the table records (`#keys=`, `#numBuckets=`). */
  def upsert(spark: SparkSession, targetDir: String, batch: DataFrame,
      keyCols: Seq[String], numBuckets: Int = 64,
      tieBreak: Option[String] = None,
      keepMaxOnMerge: Boolean = false,
      retainVersions: Int = 8): Unit =
    touching(spark, targetDir, batch, keyCols, numBuckets) { (b, touched, t, m) =>
      if (m.isEmpty && t.fs.exists(t.target) &&
          t.fs.listStatus(t.target).exists { s =>
            val n = s.getPath.getName
            // any directory that isn't ours (incl. legacy __bucket=*/
            // datestamp=* partition dirs), or any non-marker file. An
            // orphan commit under data/ (crash before the FIRST manifest
            // publish) is unreferenced garbage, not legacy data.
            if (s.isDirectory) n != ManifestDir && n != DataDir
            else !n.startsWith(".") && !n.startsWith("_")
          })
        // Guard against silently shadowing a pre-manifest table: an
        // upsert that "initializes" over existing unmanaged data would
        // commit a v1 containing only the batch, making every prior row
        // invisible to read() with no error.
        throw new IllegalStateException(
          s"$targetDir contains data but no $ManifestDir/ — refusing to " +
          "initialize over an unmanaged/legacy layout; migrate the " +
          "existing rows with an explicit initial upsert into a fresh " +
          "directory (or delete the legacy data) first")
      val live = m.fold(Map.empty[Long, String])(_.buckets)
      // live dirs of ONLY the touched buckets — pruning by manifest,
      // no full-table listing or scan
      val existing = live.view.filterKeys(touched).toMap
      val incoming = b.withColumn(SrcCol, lit(1))
      val rows = if (existing.isEmpty) incoming else
        bucketed( // leaf dirs carry no bucket col; recompute
          t.scan(m.get, existing), keyCols, numBuckets)
          .select(b.columns.map(col): _*).withColumn(SrcCol, lit(0))
          .union(incoming)
      // ONE bucket-clustered pass: the in-batch dedup and the merge
      // against live rows are the same top-1 per key. A key lives in
      // one bucket, so the exchange by bucket satisfies the window's
      // clustering AND the writer's — no second shuffle, no join
      val tb = tieBreak.map(col(_).desc).toSeq
      val src = Seq(col(SrcCol).desc)
      val w = Window.partitionBy((BucketCol +: keyCols).map(col): _*)
        .orderBy((if (keepMaxOnMerge) tb ++ src else src ++ tb): _*)
      t.write(m.fold(1L)(_.commit.version + 1),
        rows.repartition(col(BucketCol))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", SrcCol),
        keyCols, live, touched, "MERGE", retainVersions, keyCols, numBuckets)
    }

  /** MERGE WHEN MATCHED THEN DELETE: remove every row whose key appears
    * in `keys`. Cost is O(|keys| + touched buckets) like [[upsert]]:
    * only buckets the keys hash into are read and rewritten; a bucket
    * left empty drops out of the manifest entirely. Deletes commit a
    * new version, so time travel still reads the pre-delete snapshot
    * until vacuum reclaims it. `keyCols` and `numBuckets` must be the
    * ones the table records. */
  def delete(spark: SparkSession, targetDir: String, keys: DataFrame,
      keyCols: Seq[String], numBuckets: Int = 64,
      retainVersions: Int = 8): Unit =
    touching(spark, targetDir, keys.select(keyCols.map(col): _*)
        .dropDuplicates(keyCols), keyCols, numBuckets) { (k, touchedAll, t, cur) =>
      val m = cur.getOrElse(t.manifest()) // a table never written: fails by name
      val touched = touchedAll.filter(m.buckets.contains)
      if (touched.nonEmpty) { // some key hashes into a live bucket
        val existing = bucketed(
          t.scan(m, m.buckets.view.filterKeys(touched).toMap),
          keyCols, numBuckets)
        // a USING join moves the keys first; keep the table's column order
        t.write(m.commit.version + 1,
          existing.join(k.select(keyCols.map(col): _*), keyCols, "left_anti")
            .select(existing.columns.map(col): _*),
          keyCols, m.buckets, touched, "DELETE", retainVersions, keyCols,
          numBuckets)
      }
    }

  /** OPTIMIZE analog for the versioned table: rewrite the live snapshot
    * into one fresh commit (optionally sorted by `sortCols` inside each
    * bucket for row-group skipping). Every commit already writes one
    * file per bucket it touches, but a long history spreads the live
    * buckets across many commit dirs; compaction gathers them into one
    * dir without changing any row. Commits a new version — readers
    * never see a partial rewrite, and pre-compaction versions stay
    * pinnable. */
  def compact(spark: SparkSession, targetDir: String,
      sortCols: Seq[String] = Seq.empty, retainVersions: Int = 8): Unit = {
    val t = new Table(spark, targetDir)
    val m = t.manifest()
    if (m.buckets.nonEmpty) // leaf dirs carry no bucket col; recompute
      t.write(m.commit.version + 1,
        bucketed(t.scan(m, m.buckets), m.meta.keys, m.meta.numBuckets),
        sortCols, Map.empty, m.buckets.keySet, "OPTIMIZE", retainVersions,
        m.meta.keys, m.meta.numBuckets)
  }

  /** RESTORE analog (Delta's `RESTORE TABLE ... TO VERSION AS OF v`):
    * re-publish the bucket mapping of `version` as a NEW commit — a
    * rollback that itself appears in history, so the rolled-over
    * versions stay pinnable until vacuum reclaims them. No data moves:
    * commit directories are immutable, the restored manifest simply
    * references the old ones again (and vacuum keeps any directory a
    * retained manifest references), and the header keeps the restored
    * version's table metadata. O(manifest), independent of table size. */
  def restore(spark: SparkSession, targetDir: String, version: Long,
      retainVersions: Int = 8): Unit = {
    val t = new Table(spark, targetDir)
    val m = t.manifest(Some(version))
    t.commit(t.resolve(None) + 1, m.buckets, "RESTORE", 0L, 0L, m.meta,
      retainVersions)
  }

  /** The live file layout at `version` (default latest): bucket ->
    * table-relative directory. The unit a scale audit inspects: an
    * upsert must remap only the buckets it touched. */
  def snapshot(spark: SparkSession, targetDir: String,
      version: Option[Long] = None): Map[Long, String] =
    new Table(spark, targetDir).manifest(version).buckets

  /** Read the table at `version` (default: latest committed snapshot)
    * with the schema its manifest records: one manifest listing, one
    * manifest read and, when the query is planned, one listing per live
    * dir; no `DataSource` resolution and no Spark job. A filter that
    * fixes every key column to a literal lists and scans one bucket.
    * With [[DriverScan]] installed (`GraftExtensions`), collecting,
    * `head()` or `take` of any filter and projection of it runs no job
    * either while the files it selects are at most
    * [[DriverScan.MaxFiles]] and, in all, at most the smaller of
    * [[DriverScan.MaxBytes]] and `spark.sql.files.maxPartitionBytes`,
    * and falls back to Spark's scan above either bound. Such a read
    * decodes only the files the driver has not decoded before: the rows
    * of each are cached per JVM ([[DriverScan.Decoded]]). A
    * fully-deleted snapshot (no live bucket) reads as zero rows of that
    * schema. */
  def read(spark: SparkSession, targetDir: String,
      version: Option[Long] = None): DataFrame = {
    val t = new Table(spark, targetDir)
    val m = t.manifest(version)
    t.scan(m, m.buckets)
  }

  /** startingVersion-style incremental replay: the current rows of
    * every bucket whose contents changed after `sinceVersion` — the
    * bucket-granular change feed a downstream consumer re-processes
    * instead of the whole table. */
  def changesSince(spark: SparkSession, targetDir: String,
      sinceVersion: Long): DataFrame = {
    val t = new Table(spark, targetDir)
    val base = t.manifest(Some(sinceVersion)).buckets
    val now = t.manifest()
    t.scan(now, now.buckets.filter { case (bk, rel) => !base.get(bk).contains(rel) })
  }

  /** Semantic row-level diff between two committed versions: one row
    * per key whose content was `added`, `removed` or `updated` going
    * from `fromVersion` to `toVersion` (default latest). Unlike
    * [[changesSince]] — which is FILE-granular and re-emits every
    * current row of a touched bucket — this compares rows, so a key
    * rewritten with identical content reports nothing.
    *
    * Bucket-pruned: only buckets whose manifest entry differs between
    * the two versions are scanned (an identical file path implies
    * identical content — buckets are immutable once published), so the
    * cost scales with the changed fraction, not the table. Rows are
    * compared via md5 of the JSON of their non-key columns (column
    * order fixed by sorting), one codegen'd projection per side and a
    * single full-outer join on the keys.
    */
  def diff(spark: SparkSession, targetDir: String, fromVersion: Long,
      keyCols: Seq[String], toVersion: Option[Long] = None): DataFrame = {
    require(keyCols.nonEmpty, "diff needs the table's key columns")
    val t = new Table(spark, targetDir)
    val (mFrom, mTo) = (t.manifest(Some(fromVersion)), t.manifest(toVersion))
    val changed = (mFrom.buckets.keySet ++ mTo.buckets.keySet)
      .filter(bk => mFrom.buckets.get(bk) != mTo.buckets.get(bk))
    def side(m: Manifest, as: String): DataFrame = {
      val df = t.scan(m, m.buckets.view.filterKeys(changed).toMap)
      val others = df.columns.filterNot(keyCols.contains).sorted
      df.select(keyCols.map(col) :+
        md5(to_json(struct(others.map(col): _*))).as(as): _*)
    }
    side(mFrom, "__fp_a")
      .join(side(mTo, "__fp_b"), keyCols, "full_outer")
      .withColumn("change",
        when(col("__fp_a").isNull, "added")
          .when(col("__fp_b").isNull, "removed")
          .when(col("__fp_a") =!= col("__fp_b"), "updated"))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }
}
