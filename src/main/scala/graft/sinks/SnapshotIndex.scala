package graft.sinks

import java.util.concurrent.{ConcurrentHashMap, ExecutionException}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import com.google.common.cache.{Cache, CacheBuilder}
import com.google.common.util.concurrent.{ExecutionError, UncheckedExecutionException}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo,
  Expression, IntegerLiteral, Literal, NamedExpression, Pmod, Predicate,
  SubqueryExpression, UnsafeProjection, UnsafeRow, XxHash64}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{CollectLimitExec, LeafExecNode, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions,
  ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** The files of one snapshot as the manifest names them (Delta's
  * log-driven file index): `dirs` (bucket -> table-relative dir) are
  * listed at most once each, on first use, with a plain `listStatus` —
  * no `InMemoryFileIndex`, glob or existence check, and no located
  * status, which forks `ls -ld` per file on a local FS without
  * native IO. With the table's layout (`keys`, `numBuckets`),
  * [[select]] (and so [[listFiles]]) picks only the bucket a full-key
  * point lookup hashes into: a filter holding `key = literal` for every
  * key column, each literal non-null and of the column's exact type.
  * Float and double keys never prune: their equality folds `-0.0`
  * into `0.0` and every NaN into one, and the index does not lean on
  * the hash folding them alike. Any other filter reads every live
  * dir. */
private[sinks] final class SnapshotIndex(fs: FileSystem, target: Path,
    dirs: Map[Long, String], keys: Seq[String], numBuckets: Int)
    extends FileIndex {

  private val paths = dirs.toSeq.sortBy(_._1)
    .map { case (bk, rel) => bk -> new Path(target, rel) }

  private val listed = new ConcurrentHashMap[Long, Seq[FileStatus]]()

  /** The data files of bucket `bk`; none when it has no live dir. */
  private def bucketFiles(bk: Long): Seq[FileStatus] =
    dirs.get(bk).fold(Seq.empty[FileStatus]) { rel =>
      listed.computeIfAbsent(bk, _ =>
        fs.listStatus(new Path(target, rel)).toSeq.filter { s =>
          val n = s.getPath.getName // Spark's data-file rule: no .crc, _SUCCESS
          s.isFile && s.getLen > 0 && !n.startsWith(".") && !n.startsWith("_")
        })
    }

  private def files: Seq[FileStatus] = paths.flatMap(p => bucketFiles(p._1))

  /** The bucket every row matching `filters` lives in, if they fix
    * each key column to a literal: `pmod(xxhash64(literals in key
    * order), numBuckets)`, the expression KeyedUpsert writes. */
  private def pointBucket(filters: Seq[Expression]): Option[Long] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def hashStable(t: DataType): Boolean = t match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType | BinaryType |
           StringType | _: DecimalType => true // StringType: binary collation only
      case _ => false
    }
    val fixed = filters.flatMap(conjuncts).collect {
      case EqualTo(a: Attribute, l: Literal) => a -> l
      case EqualTo(l: Literal, a: Attribute) => a -> l
    }.collect {
      case (a, l) if l.value != null && l.dataType == a.dataType &&
        hashStable(a.dataType) => a.name -> l
    }.toMap
    Option.when(keys.forall(fixed.contains))(
      Pmod(new XxHash64(keys.map(fixed)), Literal(numBuckets.toLong)).eval()
        .asInstanceOf[Long])
  }

  /** The bucket `filters` fix, if any, and the data files a scan under
    * them reads: that bucket's, or else every live file. */
  private[sinks] def select(filters: Seq[Expression]): (Option[Long], Seq[FileStatus]) = {
    val bk = pointBucket(filters)
    bk -> bk.fold(files)(bucketFiles)
  }

  override def rootPaths: Seq[Path] = paths.map(_._2)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, select(dataFilters)._2.toArray))

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  override def refresh(): Unit = () // a snapshot never changes

  override def sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()
}

/** Plans a small KeyedUpsert snapshot scan at the root of a query as
  * one [[DriverScanExec]], which answers a collect, `head()` or `take`
  * on the driver with no Spark job. Only the root qualifies (the plan
  * under `ReturnAnswer`, or under its `Limit`, which becomes a
  * `CollectLimitExec` over the exec): there the rows are wanted on the
  * driver anyway. A scan under an aggregate, a join or a MERGE's union
  * keeps Spark's file scan, so its rows are read and shuffled by tasks.
  *
  * "Small" is measured, not assumed. The files the scan selects
  * ([[SnapshotIndex]]'s `select`: the bucket a full-key lookup fixes,
  * otherwise every live file) number at most [[MaxFiles]] and add up to
  * at most [[MaxBytes]] and `spark.sql.files.maxPartitionBytes`. A file
  * the driver has not decoded before ([[Decoded]] misses) costs about
  * 1.4 ms plus about 0.02 ms per KB, read one after another, where
  * Spark's scan spreads the files over its tasks after a fixed job
  * cost. A range read under `Medallion.finalizeRollup` (one remote-day
  * of hour partials; 4 vCPU, local[4], 64 KB open cost, idle session;
  * p50 of 60 reads, every file a miss) measured:
  * {{{
  *   files  bytes     driver ms  scan ms
  *       8    55 KB      20.4     24.2
  *       8   647 KB      31.1     34.1
  *      10    72 KB      27.2     31.5
  *      10   657 KB      35.8     38.3
  *      12    86 KB      28.8     29.2
  *      16   116 KB      32.0     28.6
  *      64   539 KB      97.9     53.5
  *       8  1369 KB      40.5     36.4
  * }}}
  * The driver wins up to 10 files and about 650 KB; the caps keep a
  * margin below both, so a read that misses on every file costs what
  * this grid measured and a read that hits costs less. The filters and
  * the projection above the relation are the exec's. A scan that reads
  * metadata columns, holds a subquery, or runs under
  * `ignoreMissingFiles`/`ignoreCorruptFiles` (which only Spark's scan
  * RDD honours), a larger one, and every other plan fall through to
  * Spark's own strategies. */
object DriverScan extends SparkStrategy {

  /** The most files a driver read takes on; see the table above. */
  val MaxFiles = 8

  /** The most bytes a driver read takes on, whatever the session's
    * `maxPartitionBytes` (Spark's default is 128 MB). */
  val MaxBytes: Long = 512L * 1024

  /** The decoded bytes [[Decoded]] holds at most. Parquet files decode
    * to about 3 to 3.5 times their size, so this holds the files of
    * about 36 reads at [[MaxBytes]] each; both perfbench `serve_reads`
    * tables weigh about 1.2 MB together. */
  val CacheBytes: Long = 64L << 20

  /** The data files driver reads have decoded, shared by every session
    * in the JVM. */
  private[sinks] val Decoded = new DecodedFiles(CacheBytes)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Limit(IntegerLiteral(n), child)) =>
      scan(child).map(CollectLimitExec(n, _)).toSeq
    case ReturnAnswer(child) => scan(child).toSeq
    case _ => Nil
  }

  private def scan(plan: LogicalPlan): Option[DriverScanExec] = plan match {
    case PhysicalOperation(projects, filters, l @ LogicalRelation(
        r @ HadoopFsRelation(index: SnapshotIndex, _, _, _, _, _), _, _, _, _))
        if l.output.size == r.dataSchema.size &&
          !(projects ++ filters).exists(SubqueryExpression.hasSubquery) =>
      val conf = r.sparkSession.sessionState.conf
      val bound = math.min(conf.filesMaxPartitionBytes, MaxBytes)
      val (bucket, files) = index.select(Shim.normalizeExprs(filters, l.output))
      Option.when(files.size <= MaxFiles && files.map(_.getLen).sum <= bound &&
          !conf.ignoreMissingFiles && !conf.ignoreCorruptFiles)(
        DriverScanExec(projects, filters, l.output, r, bucket, files, bound))
    case _ => None
  }
}

/** Every row of each data file a driver read has decoded, as
  * `UnsafeRow`s, under a [[DecodedFiles.Key]]: the file's identity
  * (path, length, modification time) and everything that decides what
  * reading it yields (the relation's schema and options, the reader's
  * session conf). A KeyedUpsert commit writes a fresh
  * `data/c<version>-<nonce>/` directory and never rewrites a file, so an
  * entry cannot go stale. Entries weigh their rows' bytes plus
  * [[DecodedFiles.RowOverhead]] per row; above `budget` the least
  * recently used go first, which is also how the files of vacuumed
  * commits leave. Concurrent misses on one key decode it once. */
private[graft] final class DecodedFiles(budget: Long) {
  import DecodedFiles._

  private val cache: Cache[Key, Array[UnsafeRow]] = CacheBuilder.newBuilder()
    .concurrencyLevel(1) // one segment: one LRU order over the whole budget
    .maximumWeight(budget)
    .weigher[Key, Array[UnsafeRow]]((_, rows) => math.min(weigh(rows), Int.MaxValue).toInt)
    .build[Key, Array[UnsafeRow]]()

  def cached(key: Key): Option[Array[UnsafeRow]] = Option(cache.getIfPresent(key))

  /** `key`'s rows and whether they were cached; on a miss `decode`
    * yields them (every row of the file) and they are stored. */
  def load(key: Key)(decode: => Array[UnsafeRow]): (Array[UnsafeRow], Boolean) = {
    var decoded = false
    val rows = try cache.get(key, () => { decoded = true; decode }) catch {
      case e @ (_: ExecutionException | _: UncheckedExecutionException |
          _: ExecutionError) => throw e.getCause
    }
    (rows, !decoded)
  }

  /** Stores `rows`, every row of `key`'s file, unless it is cached. */
  def offer(key: Key, rows: Array[UnsafeRow]): Unit = cache.asMap.putIfAbsent(key, rows)

  /** The weight of everything cached. */
  def bytes: Long = cache.asMap.values.asScala.map(weigh).sum
}

private[graft] object DecodedFiles {

  /** What a file decodes to: its identity, the relation's schema and
    * options, and the reader's session conf values by key. */
  final case class Key(path: String, length: Long, modificationTime: Long,
      schema: StructType, options: Map[String, String], conf: Seq[(String, String)])

  /** A cached row's heap beyond its bytes: the `UnsafeRow` object and
    * its array's header and reference. */
  val RowOverhead = 64L

  def weigh(rows: Array[UnsafeRow]): Long =
    rows.iterator.map(_.getSizeInBytes + RowOverhead).sum
}

/** A small KeyedUpsert snapshot scan at the root of a query, read on
  * the driver: `executeCollect` reads `files` (the fixed `bucket`'s, or
  * every live file when it is None) in the calling thread. A file is
  * decoded whole with Spark's own parquet reader (its schema handling
  * and rebase modes) for the relation's full schema, once per JVM: its
  * rows are kept in [[DriverScan.Decoded]], and a later read of the file
  * under the same conf opens nothing. Every read then keeps the rows ALL
  * `filters` hold for (no filter keeps every row) and projects fresh
  * copies to `projects`. `executeTake(n)` goes file by file and stops
  * at the `n`-th row; a file it stops in before its end is not cached,
  * so no entry is ever partial. Like `LocalTableScanExec`, it runs no
  * job; `execute()` (a root `.rdd`, `foreach` or cache) returns the
  * same rows as a one-partition RDD. `bound` is the byte limit the
  * planner checked the files against: [[DriverScan.MaxBytes]] or the
  * session's `maxPartitionBytes`, whichever is smaller. As in
  * `FileSourceScanExec`, the relation and the files are driver-side
  * only: the `CollectLimitExec` above the exec may ship this plan node
  * in a closure. */
case class DriverScanExec(projects: Seq[NamedExpression],
    filters: Seq[Expression], relationOutput: Seq[Attribute],
    @transient relation: HadoopFsRelation, bucket: Option[Long],
    @transient files: Seq[FileStatus], bound: Long)
    extends LeafExecNode {

  override def output: Seq[Attribute] = projects.map(_.toAttribute)

  private def bytes: Long = files.map(_.getLen).sum

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numFiles" -> SQLMetrics.createMetric(sparkContext, "number of files read"),
    "cachedFiles" -> SQLMetrics.createMetric(sparkContext, "files served from the cache"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "bytes" -> SQLMetrics.createSizeMetric(sparkContext, "size of files read"))

  override def simpleString(maxFields: Int): String =
    s"DriverScan ${bucket.fold("buckets=all")(bk => s"bucket=$bk")} " +
      s"files=${files.size} <= maxFiles=${DriverScan.MaxFiles} " +
      s"bytes=$bytes <= maxBytes=$bound " +
      truncatedString(output, "[", ", ", "]", maxFields)

  override def executeCollect(): Array[InternalRow] = read(Int.MaxValue)

  override def executeTake(n: Int): Array[InternalRow] = read(n)

  /** The first `limit` kept rows, projected; files are consulted in
    * order and none after the one that yields the `limit`-th row.
    * `numFiles` and `bytes` count the files consulted, `cachedFiles`
    * those of them served from the cache. */
  private def read(limit: Int): Array[InternalRow] = {
    val sql = relation.sparkSession.sessionState.conf
    val options = new ParquetOptions(relation.options, sql)
    val settings = readerSettings(sql)
    val conf = settings ++ Seq(
      SQLConf.PARQUET_REBASE_MODE_IN_READ.key -> options.datetimeRebaseModeInRead,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ.key -> options.int96RebaseModeInRead)
    lazy val reader = readerFactory(settings, options) // only a miss builds it
    val keep = filters.reduceOption(And).map(Predicate.create(_, relationOutput))
    keep.foreach(_.initialize(0))
    val project = UnsafeProjection.create(projects, relationOutput)
    project.initialize(0)
    val rows = ArrayBuffer.empty[InternalRow]
    def serve(decoded: Iterator[InternalRow]): Unit =
      rows ++= decoded.filter(row => keep.forall(_.eval(row)))
        .take(limit - rows.size).map(project(_).copy())
    val next = files.iterator
    var (opened, openedBytes, cached) = (0L, 0L, 0L)
    while (rows.size < limit && next.hasNext) {
      val f = next.next()
      val key = DecodedFiles.Key(f.getPath.toString, f.getLen, f.getModificationTime,
        relation.dataSchema, relation.options, conf)
      val hit = if (limit == Int.MaxValue) {
        val (all, wasCached) = DriverScan.Decoded.load(key)(decode(reader, f)(_.toArray))
        serve(all.iterator)
        wasCached
      } else DriverScan.Decoded.cached(key) match {
        case Some(all) =>
          serve(all.iterator)
          true
        case None => // decode only as far as the limit needs
          decode(reader, f) { it =>
            val all = ArrayBuffer.empty[UnsafeRow]
            serve(it.map { row => all += row; row })
            if (!it.hasNext) DriverScan.Decoded.offer(key, all.toArray)
          }
          false
      }
      opened += 1
      openedBytes += f.getLen
      if (hit) cached += 1
    }
    metrics("numFiles").set(opened)
    metrics("cachedFiles").set(cached)
    metrics("bytes").set(openedBytes)
    metrics("numOutputRows").add(rows.size.toLong)
    rows.toArray
  }

  /** `use` applied to `f`'s rows as `reader` decodes them, each copied
    * to an `UnsafeRow` of the relation's full schema; `f` is closed
    * after. */
  private def decode[T](reader: ParquetPartitionReaderFactory, f: FileStatus)(
      use: Iterator[UnsafeRow] => T): T = {
    val r = reader.buildReader(PartitionedFile(InternalRow.empty,
      SparkPath.fromFileStatus(f), 0L, f.getLen, Array.empty,
      f.getModificationTime, f.getLen, Map.empty))
    val toUnsafe = UnsafeProjection.create(relation.dataSchema)
    try use(Iterator.continually(r).takeWhile(_.next()).map(_ => toUnsafe(r.get()).copy()))
    finally r.close()
  }

  /** The session conf values [[readerFactory]] copies into its Hadoop
    * conf, as `ParquetScan.createReaderFactory` does, by key. */
  private def readerSettings(sql: SQLConf): Seq[(String, String)] =
    (SQLConf.SESSION_LOCAL_TIMEZONE.key -> sql.sessionLocalTimeZone) +: Seq(
      SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> sql.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE -> sql.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING -> sql.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> sql.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED -> sql.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> sql.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
        sql.parquetReaderRespectUnknownTypeAnnotation)
      .map { case (entry, v) => entry.key -> v.toString }

  /** Spark's parquet reader (the one its DSv2 scan runs) for every
    * column of the relation and no pushed filter, so a file decodes
    * whole. `ParquetFileFormat`'s reader would broadcast the conf
    * (~1,100 entries) on every read, measured at 4.6 ms of a 7.5 ms
    * driver read; this reader runs in the calling thread, so the conf is
    * handed over in a [[DriverOnly]] wrapper instead and never
    * serialized. */
  private def readerFactory(settings: Seq[(String, String)],
      options: ParquetOptions): ParquetPartitionReaderFactory = {
    val session = relation.sparkSession
    val conf = session.sessionState.newHadoopConfWithOptions(relation.options)
    val schema = relation.dataSchema
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    settings.foreach { case (k, v) => conf.set(k, v) }
    ParquetPartitionReaderFactory(session.sessionState.conf,
      new DriverOnly(new SerializableConfiguration(conf)), schema, schema,
      relation.partitionSchema, Array.empty, None, options)
  }

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)
}

/** A value handed to an API that takes a [[Broadcast]] but reads it only
  * in this JVM: nothing is serialized, stored or cleaned up. */
private final class DriverOnly[T: ClassTag](v: T) extends Broadcast[T](-1L) {
  override protected def getValue(): T = v
  override protected def doUnpersist(blocking: Boolean): Unit = ()
  override protected def doDestroy(blocking: Boolean): Unit = ()
}
