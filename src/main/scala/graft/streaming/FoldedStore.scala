package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Using

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A per-batch partial store folded into a RUNNING CHECKPOINT — the
  * state shape of the st22 sketch (`sketch/` → `cum/`) and the drift
  * histogram (`hist/` → `cumhist/`):
  *
  *  - the partial `<part>/batch=b` holds batch b's own rows, written in
  *    overwrite mode (a whole-batch replay rewrites identical rows);
  *  - the checkpoint `<cum>/batch=b = combine(<cum>/batch=b-1 ∪ own)`;
  *    `combine` is an associative, commutative regroup (bucket-wise max
  *    or sum), so the checkpoint equals the merge of every partial ≤ b
  *    at a cost of two small frames per batch, however long the stream
  *    has run;
  *  - a missing predecessor (a pre-checkpoint root, or a checkpoint lost
  *    to damage) SELF-HEALS as `combine(partials ≤ b)` — later batches'
  *    partials, present during a replay, are filtered out;
  *  - [[before]] is the state strictly before b: `<cum>/batch=b-1`, or
  *    `combine(partials < b)` when it is missing.
  *
  * `<cum>/b` is a pure function of strictly-earlier state and batch b's
  * rows, so every write here is replay-idempotent.
  */
private[streaming] final case class FoldedStore(part: String, cum: String,
    cols: Seq[String], combine: DataFrame => DataFrame) {

  /** Write batch `batchId`'s own rows to its partial directory. */
  def writePartial(rows: DataFrame, root: String, batchId: Long): Unit =
    rows.write.mode("overwrite").parquet(s"$root/$part/batch=$batchId")

  /** Fold the committed partial of `batchId` into `<cum>/batch=b`. */
  def fold(spark: SparkSession, root: String, batchId: Long): Unit = {
    val own = read(spark, s"$root/$part/batch=$batchId")
    val folded =
      if (batchId == 0L) own
      else predecessor(spark, root, batchId)
        .map(p => combine(p.unionByName(own)))
        .getOrElse(healed(spark, root, col("batch").cast("long") <= batchId))
    folded.write.mode("overwrite").parquet(s"$root/$cum/batch=$batchId")
  }

  /** The folded state of every batch strictly before `batchId`. */
  def before(spark: SparkSession, root: String, batchId: Long): DataFrame =
    predecessor(spark, root, batchId).getOrElse(
      healed(spark, root, col("batch").cast("long") < batchId))

  private def predecessor(spark: SparkSession, root: String,
      batchId: Long): Option[DataFrame] = {
    val p = new Path(s"$root/$cum/batch=${batchId - 1}")
    if (Store.committed(Store.hfs(spark, root), p))
      Some(read(spark, p.toString))
    else None
  }

  /** `combine` over the stored partials whose batch passes `keep`. */
  private def healed(spark: SparkSession, root: String,
      keep: Column): DataFrame =
    combine(spark.read.parquet(s"$root/$part").filter(keep)
      .select(cols.map(col): _*))

  private def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).select(cols.map(col): _*)
}

/** The actors' one store layer over the Hadoop FileSystem API (the
  * KeyedUpsert precedent), so a production root on HDFS/S3/ABFS works
  * the same as a local test root. Two kinds of store live under a root:
  *
  *  - parquet stores of `batch=<id>` directories. Spark writes
  *    `_SUCCESS` last, so a directory counts as committed only once it
  *    holds one; a crash mid-write leaves a directory that readers of
  *    earlier state skip;
  *  - small-file trails of `batch-<id>` entries (`dec/`, `pub/`) and the
  *    `threshold.ppm` marker. An entry is published by writing a
  *    hidden temp file and renaming it into place, so a crash inside the
  *    write leaves no entry at all, never an empty or partial one.
  */
private[graft] object Store {

  def hfs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The body of the trail entry `p`, or None when it is absent. */
  def readTrail(fs: FileSystem, p: Path): Option[String] =
    try Some(Using.resource(fs.open(p))(in =>
      new String(in.readAllBytes(), UTF_8)))
    catch { case _: FileNotFoundException => None }

  /** Publishes `body` at `p` by temp file + rename. An entry already at
    * `p` is kept: every trail entry is a pure function of
    * strictly-earlier state, so a replay would write the same bytes. */
  def publishTrail(fs: FileSystem, p: Path, body: String): Unit =
    if (!fs.exists(p)) {
      val tmp = new Path(p.getParent, s".${p.getName}.tmp")
      Using.resource(fs.create(tmp, true))(_.write(body.getBytes(UTF_8)))
      if (!fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        require(fs.exists(p), s"could not publish $p")
      }
    }

  /** Batch ids ≤ `upTo` under `root/dir` from `<prefix><id>` entry
    * names (`batch=` for the parquet stores, `batch-` for the trails),
    * ascending — the ONE listing parser every reader shares, so
    * completeness checks that compare two stores parse both identically.
    * A foreign entry (temp file, partial copy) is skipped, not a
    * NumberFormatException: these listings also back the self-heal
    * paths for damaged roots, where a foreign file is most plausible. */
  def batchIdsUnder(fs: FileSystem, root: String, dir: String,
      upTo: Long = Long.MaxValue, prefix: String = "batch="): Seq[Long] = {
    val p = new Path(root, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) &&
          n.length > prefix.length &&
          n.drop(prefix.length).forall(_.isDigit) =>
        n.stripPrefix(prefix).toLong }
      .filter(_ <= upTo).sorted
  }

  /** Whether the parquet directory `dir` holds a finished write. */
  def committed(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** The committed `batch=` directories of `root/dir` before `batchId`,
    * or None when there are none (a first batch, or one whose only
    * predecessor is a crashed write — reading that store would fail
    * schema inference). A partial directory among them is filtered out
    * by name; there is none in contract, so the plan is the plain
    * `batch < batchId` read. */
  def committedBefore(spark: SparkSession, root: String, dir: String,
      batchId: Long): Option[DataFrame] = {
    val fs = hfs(spark, root)
    val (done, partial) = batchIdsUnder(fs, root, dir, batchId - 1)
      .partition(b => committed(fs, new Path(s"$root/$dir/batch=$b")))
    if (done.isEmpty) None
    else {
      val all = spark.read.parquet(s"$root/$dir")
        .filter(col("batch") < batchId)
      Some(if (partial.isEmpty) all
        else all.filter(!col("batch").isin(partial: _*)))
    }
  }
}
