package graft.sinks

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

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
  *  - the manifest header records the table schema (as Delta's log
  *    `metaData` action does), and bucket dirs are scanned with it: a
  *    read costs one manifest listing plus one manifest read and runs
  *    no Spark job (an older, schema-less manifest is read by inference).
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

  private def bucketed(df: DataFrame, keyCols: Seq[String], n: Int): DataFrame =
    df.withColumn(BucketCol,
      pmod(xxhash64(keyCols.map(col): _*), lit(n.toLong)))

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestFile(target: Path, v: Long): Path =
    new Path(target, f"$ManifestDir/v$v%08d.txt")

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".txt"))
      name.stripPrefix("v").stripSuffix(".txt").toLongOption
    else None

  /** (version, status) of every manifest, ascending, from ONE listing;
    * a missing manifest dir (a table never written) lists as empty. */
  private def manifests(fs: FileSystem, target: Path): Seq[(Long, FileStatus)] =
    try fs.listStatus(new Path(target, ManifestDir)).toSeq
      .flatMap(s => versionOf(s.getPath.getName).map(_ -> s)).sortBy(_._1)
    catch { case _: FileNotFoundException => Seq.empty }

  /** Committed versions, ascending; empty for a table never written. */
  def versions(spark: SparkSession, targetDir: String): Seq[Long] = {
    val target = new Path(targetDir)
    manifests(fsOf(spark, target), target).map(_._1)
  }

  /** One DESCRIBE HISTORY row: the commit metadata recorded in the
    * manifest header at commit time (`Query the Metric tables/Query the
    * delta tables.scala:702`). `touchedBuckets` is the number of bucket
    * directories the commit rewrote — the unit of work the layout
    * promises stays O(batch), not O(table) — and `filesWritten` the
    * parquet files it wrote (one per rewritten bucket). */
  case class Commit(version: Long, operation: String, commitMs: Long,
      touchedBuckets: Long, filesWritten: Long)

  /** DESCRIBE HISTORY analog, ascending by version. Manifests written
    * before headers existed surface as operation "unknown" with the
    * file modification time; a count the header lacks reads as -1. */
  def history(spark: SparkSession, targetDir: String): Seq[Commit] = {
    val target = new Path(targetDir)
    val fs = fsOf(spark, target)
    manifests(fs, target).map { case (v, s) =>
      val h = loadManifest(fs, target, v).header
      def count(k: String) = h.get(k).flatMap(_.toLongOption)
      Commit(v, h.getOrElse("operation", "unknown"),
        count("commitMs").getOrElse(s.getModificationTime),
        count("touchedBuckets").getOrElse(-1L),
        count("filesWritten").getOrElse(-1L))
    }
  }

  /** One version's manifest: the `#key=value` header (commit metadata,
    * the table schema) and bucket -> table-relative live directory. */
  private case class Manifest(header: Map[String, String],
      buckets: Map[Long, String]) {
    lazy val schema: Option[StructType] =
      header.get("schema").map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** Read and parse the version's manifest in ONE file read. */
  private def loadManifest(fs: FileSystem, target: Path,
      version: Long): Manifest = {
    val in = fs.open(manifestFile(target, version))
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val (header, body) = text.linesIterator.filter(_.nonEmpty).toSeq
      .partition(_.startsWith("#"))
    Manifest(
      header.flatMap { line =>
        line.stripPrefix("#").split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap,
      body.map { line =>
        val Array(bk, rel) = line.split('\t')
        bk.toLong -> rel
      }.toMap)
  }

  /** Scan table-relative bucket dirs with the recorded `schema`: no
    * inference job reads a footer. Without one, infer it. */
  private def scan(spark: SparkSession, target: Path,
      schema: Option[StructType], rels: Iterable[String]): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_))
      .parquet(rels.toSeq.sorted.map(rel => new Path(target, rel).toString): _*)

  /** Publish `mapping` as version `v`: write a temp file, then rename —
    * the rename IS the commit; it fails (loudly) if the version was
    * concurrently taken. The header records the DESCRIBE HISTORY
    * metadata: operation name, wall-clock commit time, and how many
    * bucket directories and files this commit (re)wrote; plus the
    * table schema as one JSON line. */
  private def commitManifest(fs: FileSystem, target: Path, v: Long,
      mapping: Map[Long, String], operation: String,
      touchedBuckets: Long, filesWritten: Long,
      schemaJson: Option[String]): Unit = {
    val dir = new Path(target, ManifestDir)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".tmp-$v-${System.nanoTime()}")
    val out = fs.create(tmp, false)
    val header = s"#operation=$operation\n" +
      s"#commitMs=${System.currentTimeMillis()}\n" +
      s"#touchedBuckets=$touchedBuckets\n" +
      s"#filesWritten=$filesWritten\n" +
      schemaJson.fold("")(j => s"#schema=$j\n")
    try out.write((header + mapping.toSeq.sortBy(_._1)
      .map { case (bk, rel) => s"$bk\t$rel" }
      .mkString("\n")).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dst = manifestFile(target, v)
    if (fs.exists(dst) || !fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"concurrent commit of version $v to $target")
    }
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
    * `retainVersions` are vacuumed. */
  def upsert(spark: SparkSession, targetDir: String, batch: DataFrame,
      keyCols: Seq[String], numBuckets: Int = 64,
      tieBreak: Option[String] = None,
      keepMaxOnMerge: Boolean = false,
      retainVersions: Int = 8): Unit = {
    val b = bucketed(batch, keyCols, numBuckets).persist()
    try {
      // ONE pass decides emptiness AND the touched buckets (filling
      // the persist on the way): the former separate
      // `if (batch.isEmpty) return` cost a full extra evaluation of
      // the batch plan — often an aggregation — per upsert call
      // (guide §1.2: don't compute things twice)
      val touched = b.select(BucketCol).distinct()
        .collect().map(_.getLong(0)).toSet // bounded by numBuckets
      if (touched.isEmpty) return // empty batch: nothing to commit
      val target = new Path(targetDir)
      val fs = fsOf(spark, target)
      val current = versions(spark, targetDir).lastOption
      if (current.isEmpty && fs.exists(target) &&
          fs.listStatus(target).exists { s =>
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
      val m = current.map(loadManifest(fs, target, _))
        .getOrElse(Manifest(Map.empty, Map.empty))
      // live dirs of ONLY the touched buckets — pruning by manifest,
      // no full-table listing or scan
      val existing = touched.toSeq.flatMap(m.buckets.get)
      val incoming = b.withColumn(SrcCol, lit(1))
      val rows = if (existing.isEmpty) incoming else
        bucketed( // leaf dirs carry no bucket col; recompute
          scan(spark, target, m.schema, existing), keyCols, numBuckets)
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
      writeBuckets(fs, target, current.getOrElse(0L) + 1,
        rows.repartition(col(BucketCol))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", SrcCol),
        keyCols, m.buckets, touched, "MERGE", retainVersions)
    } finally b.unpersist()
  }

  /** The one bucket writer behind MERGE, DELETE and OPTIMIZE: cluster
    * `rows` (carrying [[BucketCol]]) by bucket so each bucket is whole
    * in one task — one file per bucket — sorted by `sortCols` inside
    * it: parquet row-group min/max on the leading sort column then
    * lets a point lookup (read().filter(key === x)) skip row groups.
    * Publishes version `v` as `base` with the `replaced` buckets
    * remapped to the fresh commit dir; a replaced bucket that received
    * no rows leaves the manifest, and `rows`' schema is recorded.
    * `repartition` (not rebalance) lets AQE coalesce small buckets into
    * one task but never split one. */
  private def writeBuckets(fs: FileSystem, target: Path, v: Long,
      rows: DataFrame, sortCols: Seq[String], base: Map[Long, String],
      replaced: Set[Long], operation: String, retain: Int): Unit = {
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
    commitManifest(fs, target, v, base -- replaced ++
      written.map(bk => bk -> s"$commitRel/$BucketCol=$bk"),
      operation, replaced.size.toLong, files.size.toLong,
      Some(StructType(rows.schema.filterNot(_.name == BucketCol)).json))
    vacuum(fs, target, v, retain)
  }

  /** MERGE WHEN MATCHED THEN DELETE: remove every row whose key appears
    * in `keys`. Cost is O(|keys| + touched buckets) like [[upsert]]:
    * only buckets the keys hash into are read and rewritten; a bucket
    * left empty drops out of the manifest entirely. Deletes commit a
    * new version, so time travel still reads the pre-delete snapshot
    * until vacuum reclaims it. */
  def delete(spark: SparkSession, targetDir: String, keys: DataFrame,
      keyCols: Seq[String], numBuckets: Int = 64,
      retainVersions: Int = 8): Unit = {
    val k = bucketed(keys.select(keyCols.map(col): _*)
      .dropDuplicates(keyCols), keyCols, numBuckets).persist()
    try {
      // one pass decides emptiness AND the touched buckets (the former
      // separate isEmpty cost a full extra evaluation of `keys`)
      val touchedAll = k.select(BucketCol).distinct()
        .collect().map(_.getLong(0)) // bounded by numBuckets
      if (touchedAll.isEmpty) return // no keys: nothing to delete
      val target = new Path(targetDir)
      val fs = fsOf(spark, target)
      val current = resolveVersion(spark, targetDir, None)
      val m = loadManifest(fs, target, current)
      val touched = touchedAll.filter(m.buckets.contains).toSet
      if (touched.isEmpty) return // no key hashes into a live bucket
      val existing = bucketed(
        scan(spark, target, m.schema, touched.toSeq.flatMap(m.buckets.get)),
        keyCols, numBuckets)
      // a USING join moves the keys first; keep the table's column order
      writeBuckets(fs, target, current + 1,
        existing.join(k.select(keyCols.map(col): _*), keyCols, "left_anti")
          .select(existing.columns.map(col): _*),
        keyCols, m.buckets, touched, "DELETE", retainVersions)
    } finally k.unpersist()
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
    val target = new Path(targetDir)
    val fs = fsOf(spark, target)
    val current = resolveVersion(spark, targetDir, None)
    val m = loadManifest(fs, target, current)
    if (m.buckets.isEmpty) return
    // leaf dirs don't store the bucket value; tag each bucket's frame
    val parts = m.buckets.toSeq.sortBy(_._1).map { case (bk, rel) =>
      scan(spark, target, m.schema, Seq(rel)).withColumn(BucketCol, lit(bk))
    }
    writeBuckets(fs, target, current + 1, parts.reduce(_.unionByName(_)),
      sortCols, Map.empty, m.buckets.keySet, "OPTIMIZE", retainVersions)
  }

  /** RESTORE analog (Delta's `RESTORE TABLE ... TO VERSION AS OF v`):
    * re-publish the bucket mapping of `version` as a NEW commit — a
    * rollback that itself appears in history, so the rolled-over
    * versions stay pinnable until vacuum reclaims them. No data moves:
    * commit directories are immutable, the restored manifest simply
    * references the old ones again (and vacuum keeps any directory a
    * retained manifest references), and the header keeps the restored
    * version's schema. O(manifest), independent of table size. */
  def restore(spark: SparkSession, targetDir: String, version: Long,
      retainVersions: Int = 8): Unit = {
    val target = new Path(targetDir)
    val fs = fsOf(spark, target)
    val v = resolveVersion(spark, targetDir, Some(version))
    val latest = resolveVersion(spark, targetDir, None)
    val m = loadManifest(fs, target, v)
    commitManifest(fs, target, latest + 1, m.buckets, "RESTORE", 0L, 0L,
      m.header.get("schema"))
    vacuum(fs, target, latest + 1, retainVersions)
  }

  /** Drop manifests older than the newest `retain` and any commit dir
    * no retained manifest references. Only dirs whose version is <= the
    * just-committed one are candidates, so an in-flight writer's
    * not-yet-committed directory is never reclaimed from under it. */
  private def vacuum(fs: FileSystem, target: Path, latest: Long,
      retain: Int): Unit = {
    val (expired, kept) = manifests(fs, target).map(_._1)
      .partition(_ <= latest - retain)
    val referenced = kept.flatMap(v => loadManifest(fs, target, v).buckets.values)
      .map(_.split('/')(1)).toSet // data/<commit>/__bucket=K -> <commit>
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
    expired.foreach(v => fs.delete(manifestFile(target, v), false))
  }

  /** Resolve a requested version against the retained manifest chain,
    * failing with a meaningful message (naming the earliest retained
    * version) when the version was vacuumed — instead of a raw
    * FileNotFoundException from the manifest read. */
  private def resolveVersion(spark: SparkSession, targetDir: String,
      requested: Option[Long]): Long = {
    val vs = versions(spark, targetDir)
    if (vs.isEmpty) throw new IllegalArgumentException(
      s"no committed version in $targetDir")
    requested match {
      case None => vs.last
      case Some(v) if vs.contains(v) => v
      case Some(v) => throw new IllegalArgumentException(
        s"version $v of $targetDir has been vacuumed or never existed; " +
        s"earliest available is ${vs.head}, latest is ${vs.last}")
    }
  }

  /** The live file layout at `version` (default latest): bucket ->
    * table-relative directory. The unit a scale audit inspects: an
    * upsert must remap only the buckets it touched. */
  def snapshot(spark: SparkSession, targetDir: String,
      version: Option[Long] = None): Map[Long, String] = {
    val target = new Path(targetDir)
    val v = resolveVersion(spark, targetDir, version)
    loadManifest(fsOf(spark, target), target, v).buckets
  }

  /** Read the table at `version` (default: latest committed snapshot)
    * with the schema its manifest records: one manifest listing, one
    * manifest read and a listing of the live dirs; no Spark job runs.
    * A fully-deleted snapshot (no live bucket) reads as zero rows of
    * that schema. */
  def read(spark: SparkSession, targetDir: String,
      version: Option[Long] = None): DataFrame = {
    val target = new Path(targetDir)
    val v = resolveVersion(spark, targetDir, version)
    val m = loadManifest(fsOf(spark, target), target, v)
    require(m.buckets.nonEmpty || m.schema.nonEmpty,
      s"$targetDir at version $v is empty and its manifest records no schema")
    scan(spark, target, m.schema, m.buckets.values)
  }

  /** startingVersion-style incremental replay: the current rows of
    * every bucket whose contents changed after `sinceVersion` — the
    * bucket-granular change feed a downstream consumer re-processes
    * instead of the whole table. */
  def changesSince(spark: SparkSession, targetDir: String,
      sinceVersion: Long): DataFrame = {
    val target = new Path(targetDir)
    val fs = fsOf(spark, target)
    val latest = resolveVersion(spark, targetDir, None)
    val base = loadManifest(fs, target,
      resolveVersion(spark, targetDir, Some(sinceVersion))).buckets
    val now = loadManifest(fs, target, latest)
    val changed = now.buckets.filter { case (bk, rel) => !base.get(bk).contains(rel) }
    if (changed.isEmpty)
      scan(spark, target, now.schema, now.buckets.values).limit(0)
    else
      scan(spark, target, now.schema, changed.values)
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
    val target = new Path(targetDir)
    val fs = fsOf(spark, target)
    val mFrom = loadManifest(fs, target,
      resolveVersion(spark, targetDir, Some(fromVersion)))
    val mTo = loadManifest(fs, target,
      resolveVersion(spark, targetDir, toVersion))
    val changed = (mFrom.buckets.keySet ++ mTo.buckets.keySet)
      .filter(bk => mFrom.buckets.get(bk) != mTo.buckets.get(bk))
    def side(m: Manifest): DataFrame = {
      val rels = m.buckets.view.filterKeys(changed).values.toSeq
      if (rels.nonEmpty) scan(spark, target, m.schema, rels)
      else scan(spark, target, mTo.schema, mTo.buckets.values).limit(0)
    }
    def fingerprinted(df: DataFrame, as: String): DataFrame = {
      val others = df.columns.filterNot(keyCols.contains).sorted
      df.select(keyCols.map(col) :+
        md5(to_json(struct(others.map(col): _*))).as(as): _*)
    }
    fingerprinted(side(mFrom), "__fp_a")
      .join(fingerprinted(side(mTo), "__fp_b"), keyCols, "full_outer")
      .withColumn("change",
        when(col("__fp_a").isNull, "added")
          .when(col("__fp_b").isNull, "removed")
          .when(col("__fp_a") =!= col("__fp_b"), "updated"))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** foreachBatch hook for streaming update-mode aggregates (K3/K4). */
  def sink(targetDir: String, keyCols: Seq[String], numBuckets: Int = 64)
      : (DataFrame, Long) => Unit =
    (batch, _) => upsert(batch.sparkSession, targetDir, batch, keyCols, numBuckets)
}
