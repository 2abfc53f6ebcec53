package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{Store, StreamPromote}

/** CANDIDATES-AXIS probe for the st23 promotion gate (round 16): the
  * r15 verdict flagged that a firing batch collected the WHOLE `cand/`
  * store (≤64 rows × candidates seen) to find the latest published
  * champion — linear in candidates where a pointer is O(64), the same
  * class the dec/ store fixed for decisions. The r16 `pub/` checkpoint
  * closes it; this probe MEASURES the claim on the axis that matters
  * (stream lifetime = candidates accrued), which the st23 bench row
  * cannot see (sf0.01 accrues 2 candidates).
  *
  * Method: materialize a root with N stored candidates (the exact
  * layout gateBatch writes — cand/batch=k parquet + pub/batch-k
  * pointer), then time, per axis point N ∈ {16, 128}:
  *   - `checkpoint`: the r16 read path — [[StreamPromote.pubStateBefore]]
  *     (one FS listing + one tiny byte read) + the ≤64-row
  *     latest-champion directory read;
  *   - `fold`: the legacy path, still live as the self-heal — the full
  *     cand/ store fold (what every firing batch paid before r16).
  * Repeated REPS times, best-of reported (FS cache noise dominates a
  * single read). Verdict: `checkpoint_ratio` = checkpoint(128)/
  * checkpoint(16) must stay ~1 (flat on the candidates axis) while
  * `fold_ratio` grows — the contrast that proves the fix, not just the
  * absence of slowness. Gated row `promote_cand_axis`: rule-1 gating
  * on the checkpoint leg's time_ratio (a future edit reverting to the
  * fold shows as the ratio climbing toward the fold's).
  */
object PromoteCandAxisProbe extends Probe {

  private val Reps = 5

  def run(spark: SparkSession): Probe.Row = {
    import spark.implicits._

    /** A root with n stored candidates at batches 0..n-1, every one
      * published (the adversarial shape: the fold reads ALL of them,
      * the checkpoint reads one pointer + one directory). */
    def buildRoot(n: Int): String = {
      val root = Dirs.fresh(s"/tmp/graft-candaxis/n$n").toString
      val fs = Store.hfs(spark, root)
      for (b <- 0 until n) {
        (0 until graft.text.ClassifierTrain.Dim).map { bk =>
          (bk.toLong, (b * 100 + bk).toLong, -1L, 10L, 10L,
            Some(b + 1L), "published")
        }.toDF("bucket", "weight", "champ_ok", "chall_ok", "n_val",
            "version", "status")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$root/cand/batch=$b")
        Store.publishTrail(fs,
          new org.apache.hadoop.fs.Path(s"$root/pub/batch-$b"),
          s"${b + 1},$b")
      }
      root
    }

    def bestOf(reps: Int)(f: => Unit): Double =
      (0 until reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min

    /** The r16 read path a firing batch b = n pays. */
    def checkpointRead(root: String, n: Int): Unit = {
      val (_, latest) = StreamPromote.pubStateBefore(spark, root, n.toLong)
      require(latest == n - 1L, s"pointer read wrong: $latest")
      val rows = spark.read.parquet(s"$root/cand/batch=$latest")
        .filter(col("status") === "published")
        .select("bucket", "weight").collect()
      require(rows.length == graft.text.ClassifierTrain.Dim)
    }

    /** The pre-r16 path (still the self-heal): fold the whole store. */
    def foldRead(root: String, n: Int): Unit = {
      val prior = spark.read.parquet(s"$root/cand")
        .select(col("batch").cast("long").as("fired"), col("bucket"),
          col("weight"), col("status"))
        .filter(col("fired") < n.toLong)
        .collect()
      require(prior.length == n * graft.text.ClassifierTrain.Dim)
    }

    val axis = Seq(16, 128)
    val roots = axis.map(n => n -> buildRoot(n)).toMap
    // warm both paths once (parquet footer caches, codegen)
    checkpointRead(roots(16), 16); foldRead(roots(16), 16)
    val cp = axis.map(n => n -> bestOf(Reps)(checkpointRead(roots(n), n))).toMap
    val fd = axis.map(n => n -> bestOf(Reps)(foldRead(roots(n), n))).toMap
    val cpRatio = cp(128) / cp(16)
    val fdRatio = fd(128) / fd(16)
    Probe.Row("promote_cand_axis", s"""{"metric":"promote_cand_axis","axis":[16,128],""" +
      s""""checkpoint_sec":{"n16":${ProbeLog.fmt(cp(16), 4)},"n128":${ProbeLog.fmt(cp(128), 4)}},""" +
      s""""fold_sec":{"n16":${ProbeLog.fmt(fd(16), 4)},"n128":${ProbeLog.fmt(fd(128), 4)}},""" +
      s""""fold_ratio":${ProbeLog.fmt(fdRatio, 2)},""" +
      s""""ratios":{"st23_checkpoint_read":{"time_ratio":${ProbeLog.fmt(cpRatio, 2)}}},""" +
      s"""${ProbeLog.hostJson()}}""")
  }
}
