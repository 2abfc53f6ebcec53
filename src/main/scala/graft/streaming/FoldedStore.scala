package graft.streaming

import org.apache.hadoop.fs.Path
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
    if (StreamRefit.hfs(spark, root).exists(p)) Some(read(spark, p.toString))
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
