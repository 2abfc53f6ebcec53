package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{StreamDrift, StreamLineage, StreamPromote,
  StreamQuarantine}

/** SAME-STEAL A/B for the st24 composition seam (round 16): through
  * round 15 the composed curation lineage ran its two actors
  * back-to-back per micro-batch — StreamQuarantine.processBatch then
  * StreamPromote.processBatch — each performing the shared
  * store/decide step itself, so hist/ and cumhist/ committed TWICE per
  * batch and the lineage marker was checked twice (the r15 verdict's
  * #1 cheapest-real-win). Round 16 lifts the shared step into the
  * composing caller (StreamLineage.processBatch: one drift commit, one
  * decision, then routeBatch + gateBatch). Both compositions are
  * byte-identical in OUTPUT (the stores are overwrite-idempotent pure
  * functions); this probe times them against the same corpus in ONE
  * session — back to back, so host steal hits both legs alike and the
  * ratio is steal-free by construction — and records both rows.
  *
  * Run: `sbt "runMain graft.St24ComposeAbProbe"` (SPARK_GRAFT_SF_DIR
  * selects the corpus; default sf0.1). Gated row `st24_compose_ab`:
  * the regression rule is rule 1's time_ratio clause on the
  * single-commit leg's ratio vs the double-commit leg — a future edit
  * that reintroduces a second per-batch commit shows as the ratio
  * climbing back toward 1.0 (it is gated only loosely; the committed
  * row is the record).
  */
object St24ComposeAbProbe extends Probe {

  /** The r15 composition, verbatim: both actors run their own shared
    * store/decide step (double hist/cumhist commit per batch). Output
    * is identical to StreamLineage.processBatch — that is the point. */
  private def doubleCommitBatch(batch: org.apache.spark.sql.DataFrame,
      batchId: Long, root: String): Unit = {
    StreamQuarantine.processBatch(batch, batchId, root)
    StreamPromote.processBatch(batch, batchId, root)
  }

  private val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def run(spark: SparkSession): Probe.Row = {
    val docs = sources.Tables.documents(spark, src)
    def runWith(name: String,
        perBatch: (org.apache.spark.sql.DataFrame, Long, String) => Unit)
        : (Double, Long) = {
      val root = Dirs.fresh(s"/tmp/graft-st24ab/$name").toString
      // the window includes the topic publish, a constant both legs
      // share (it dilutes the ratio toward 1.0 slightly)
      val t0 = System.nanoTime()
      StreamDrift.runSliced(spark, docs, root, 4)(perBatch(_, _, root))
      // elapsed closes HERE: the lineage row-count parity check below
      // is verification, not part of either composition's per-batch
      // cost — inside the window it would dilute the single-vs-double
      // commit contrast with a constant read both legs share
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = StreamLineage.lineage(spark, root).count()
      (sec, rows)
    }
    // interleave legs (the CodegenAbProbe discipline) so neither leg
    // systematically owns the warmer JVM, three reps each (a 2-rep
    // best-of proved thin against steal spikes — one observed double
    // leg read 35 s vs its sibling's 18.8 s under 5.73% steal):
    // single, double, single, double, single, double — report each
    // leg's best (JIT-steady, least-stolen) time
    val legs = (1 to 3).flatMap { i =>
      Seq(
        "single" -> runWith(s"single-$i",
          StreamLineage.processBatch(_, _, _)),
        "double" -> runWith(s"double-$i", doubleCommitBatch))
    }
    val singles = legs.collect { case ("single", r) => r }
    val doubles = legs.collect { case ("double", r) => r }
    require((singles ++ doubles).map(_._2).toSet.size == 1,
      s"A/B legs disagree on lineage rows: $singles $doubles")
    val singleSec = singles.map(_._1).min
    val doubleSec = doubles.map(_._1).min
    val ratio = singleSec / doubleSec
    def arr(rs: Seq[(Double, Long)]) =
      rs.map(r => ProbeLog.fmt(r._1, 3)).mkString("[", ",", "]")
    Probe.Row("st24_compose_ab", s"""{"metric":"st24_compose_ab",""" +
      s""""single_commit_sec":${ProbeLog.fmt(singleSec, 3)},""" +
      s""""double_commit_sec":${ProbeLog.fmt(doubleSec, 3)},""" +
      s""""runs":{"single":${arr(singles)},"double":${arr(doubles)}},""" +
      s""""ratios":{"st24_single_vs_double":{"time_ratio":${ProbeLog.fmt(ratio, 2)}}},""" +
      s""""rows":${singles.head._2},"sf":"$src",${ProbeLog.hostJson()}}""")
  }
}
