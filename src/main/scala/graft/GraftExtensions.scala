package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.Shim
import graft.functions.{ByteStride, DotProduct, HeavyHittersAgg,
  NfcNormalize, RegexpExtractAllNegate, TopKAgg}
import graft.sinks.DriverScan

/** SparkSessionExtensions entry point: makes the engine's native
  * expressions SQL-callable and plans small KeyedUpsert snapshot scans
  * on the driver ([[graft.sinks.DriverScan]]). Activate at session build with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`, or call
  * [[GraftExtensions.register]] on an already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.TopOnePerKeyToArgmax)
    ext.injectPlannerStrategy(_ => DriverScan)
  }
}

object GraftExtensions {

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "regexp_extract_all_negate" ->
      ((cs: Seq[Expression]) => RegexpExtractAllNegate(cs(0), cs(1), cs(2))),
    "vec_dot" ->
      ((cs: Seq[Expression]) => DotProduct(cs(0), cs(1))),
    "topk" ->
      ((cs: Seq[Expression]) => TopKAgg(cs(0), cs(1))),
    "heavy_hitters" ->
      ((cs: Seq[Expression]) => HeavyHittersAgg(cs(0), cs(1))),
    "nfc_normalize" ->
      ((cs: Seq[Expression]) => NfcNormalize(cs(0))),
    "byte_stride" ->
      ((cs: Seq[Expression]) => {
        // the stride is baked into the expression at build time, so it
        // must be a foldable non-null integer — anything else would
        // otherwise surface as an opaque NPE/cast failure here
        def bad(why: String) = throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION", Map("errorMessage" ->
            s"byte_stride(content, stride) requires a literal positive integer stride: $why"))
        if (cs.length != 2) bad(s"got ${cs.length} argument(s)")
        if (!cs(1).foldable) bad("stride is not a constant")
        cs(1).eval() match {
          case n: Number if n.intValue() > 0 => ByteStride(cs(0), n.intValue())
          case null => bad("stride is NULL")
          case other => bad(s"stride is $other")
        }
      }))

  /** Spark's session key that picks the streaming checkpoint manager. */
  val CheckpointManagerConf = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's own FileSystem-API checkpoint manager. */
  val FileSystemCheckpointManager = "org.apache.spark.sql.execution" +
    ".streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** Register on an existing session (extensions only run at build):
    * the functions, the argmax rule and the [[DriverScan]] strategy,
    * the rule and the strategy once however often this is called.
    *
    * Also sets one session default: [[CheckpointManagerConf]] becomes
    * [[FileSystemCheckpointManager]] unless the session already has a
    * value, so an explicit choice is kept. Spark's default manager
    * renames every offset-log, commit-log and state-store file through
    * FileContext, whose no-overwrite rename on Hadoop's local file
    * system forks `readlink` twice per rename when no native Hadoop
    * library is installed. The FileSystem manager checks the
    * destination and calls the two-argument `FileSystem.rename`, which
    * forks nothing. The guarantee is the same: FileContext's local
    * no-overwrite rename is itself check-then-rename, and HDFS's
    * `rename` refuses an existing destination. Spark's checkpoint
    * checksums wrap whichever manager is chosen. Sessions that get the
    * extension only through `spark.sql.extensions` keep Spark's default
    * manager: the extension hook cannot set session confs. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      Shim.registerFunction(spark, name, builder)
    }
    if (spark.conf.getOption(CheckpointManagerConf).isEmpty)
      spark.conf.set(CheckpointManagerConf, FileSystemCheckpointManager)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.TopOnePerKeyToArgmax)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.TopOnePerKeyToArgmax
    }
    if (!spark.experimental.extraStrategies.contains(DriverScan))
      spark.experimental.extraStrategies =
        DriverScan +: spark.experimental.extraStrategies
  }
}
