package graft.sinks

import java.util.concurrent.ConcurrentHashMap

import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
  AttributeSet, EqualTo, Expression, Literal, NamedExpression, Pmod, Predicate,
  SubqueryExpression, UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions,
  ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** The files of one snapshot as the manifest names them (Delta's
  * log-driven file index): `dirs` (bucket -> table-relative dir) are
  * listed at most once each, on first use, with a plain `listStatus` —
  * no `InMemoryFileIndex`, glob or existence check, and no located
  * status, which forks `ls -ld` per file on a local FS without
  * native IO. With the table's layout (`keys`, `numBuckets`),
  * [[listFiles]] reads only the bucket a full-key point
  * lookup hashes into: a filter holding `key = literal` for every
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

  /** The bucket `filters` fix and its data files. */
  private[sinks] def point(filters: Seq[Expression]): Option[(Long, Seq[FileStatus])] =
    pointBucket(filters).map(bk => bk -> bucketFiles(bk))

  override def rootPaths: Seq[Path] = paths.map(_._2)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      pointBucket(dataFilters).fold(files)(bucketFiles).toArray))

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  override def refresh(): Unit = () // a snapshot never changes

  override def sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()
}

/** Plans a full-key point lookup on a KeyedUpsert snapshot as one
  * [[DriverLookupExec]], which answers it on the driver with no Spark
  * job: the lookup's filters fix one bucket ([[SnapshotIndex]]'s
  * `pointBucket`) and that bucket's files add up to at most
  * `spark.sql.files.maxPartitionBytes`, a bucket Spark would read as
  * one split anyway. A lookup that reads metadata columns, holds a
  * subquery, or runs under `ignoreMissingFiles`/`ignoreCorruptFiles`
  * (which only Spark's scan RDD honours), and every other plan, falls
  * through to Spark's own strategies. */
object DriverLookup extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters, l @ LogicalRelation(
        r @ HadoopFsRelation(index: SnapshotIndex, _, _, _, _, _), _, _, _, _))
        if l.output.size == r.dataSchema.size &&
          !(projects ++ filters).exists(SubqueryExpression.hasSubquery) =>
      val conf = r.sparkSession.sessionState.conf
      val bound = conf.filesMaxPartitionBytes
      val normalized = Shim.normalizeExprs(filters, l.output)
      index.point(normalized).collect {
        case (bk, files) if files.map(_.getLen).sum <= bound &&
            !conf.ignoreMissingFiles && !conf.ignoreCorruptFiles =>
          DriverLookupExec(projects, filters, l.output, r, bk, files, bound,
            Shim.pushedFilters(r, normalized))
      }.toSeq
    case _ => Nil
  }
}

/** A full-key lookup of one KeyedUpsert bucket, read on the driver:
  * `executeCollect` reads `files` in the calling thread with Spark's
  * own parquet reader (its schema handling, rebase modes and `pushed`
  * filters, so row groups are skipped by min/max on the sorted key),
  * keeps the rows ALL `filters` hold for — the pushed filters only
  * prune — and projects them to `projects`. Like
  * `LocalTableScanExec`, it runs no job when it is the plan root;
  * `execute()` (under an aggregate or a join) returns the same rows as
  * a one-partition RDD. `bound` is the size limit the planner checked
  * the bucket's bytes against. */
case class DriverLookupExec(projects: Seq[NamedExpression],
    filters: Seq[Expression], relationOutput: Seq[Attribute],
    relation: HadoopFsRelation, bucket: Long, files: Seq[FileStatus],
    bound: Long, pushed: Seq[Filter]) extends LeafExecNode {

  override def output: Seq[Attribute] = projects.map(_.toAttribute)

  private def bytes: Long = files.map(_.getLen).sum

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numFiles" -> SQLMetrics.createMetric(sparkContext, "number of files read"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "bucketBytes" -> SQLMetrics.createSizeMetric(sparkContext, "bucket size"))

  override def simpleString(maxFields: Int): String =
    s"DriverLookup bucket=$bucket files=${files.size} bytes=$bytes <= " +
      s"maxPartitionBytes=$bound " +
      truncatedString(output, "[", ", ", "]", maxFields) +
      truncatedString(pushed, " PushedFilters: [", ", ", "]", maxFields)

  override def executeCollect(): Array[InternalRow] = {
    val refs = AttributeSet(projects ++ filters)
    val (required, fields) = relationOutput.zip(relation.dataSchema)
      .filter(p => refs.contains(p._1)).unzip
    val reader = readerFactory(StructType(fields))
    val keep = Predicate.create(filters.reduce(And), required)
    keep.initialize(0)
    val project = UnsafeProjection.create(projects, required)
    project.initialize(0)
    val rows: Array[InternalRow] = files.toArray.flatMap { f =>
      val r = reader.buildReader(PartitionedFile(InternalRow.empty,
        SparkPath.fromFileStatus(f), 0L, f.getLen, Array.empty,
        f.getModificationTime, f.getLen, Map.empty))
      try Iterator.continually(r).takeWhile(_.next()).map(_.get())
        .filter(keep.eval).map(project(_).copy()).toArray
      finally r.close()
    }
    metrics("numFiles").set(files.size.toLong)
    metrics("bucketBytes").set(bytes)
    metrics("numOutputRows").add(rows.length.toLong)
    rows
  }

  /** Spark's parquet reader (the one its DSv2 scan runs) for the
    * `required` columns, with the Hadoop conf set up as
    * `ParquetScan.createReaderFactory` sets it up. `ParquetFileFormat`'s
    * reader would broadcast the conf (~1,100 entries) on every lookup,
    * measured at 4.6 ms of a 7.5 ms driver read; this reader runs in the
    * calling thread, so the conf is handed over in a [[DriverOnly]]
    * wrapper instead and never serialized. */
  private def readerFactory(required: StructType): ParquetPartitionReaderFactory = {
    val session = relation.sparkSession
    val sql = session.sessionState.conf
    val conf = session.sessionState.newHadoopConfWithOptions(relation.options)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, required.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, required.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    Seq(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> sql.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE -> sql.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING -> sql.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> sql.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED -> sql.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> sql.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
        sql.parquetReaderRespectUnknownTypeAnnotation)
      .foreach { case (entry, v) => conf.setBoolean(entry.key, v) }
    ParquetPartitionReaderFactory(sql,
      new DriverOnly(new SerializableConfiguration(conf)), relation.dataSchema,
      required, relation.partitionSchema, pushed.toArray, None,
      new ParquetOptions(relation.options, sql))
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

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
