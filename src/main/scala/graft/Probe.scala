package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The skeleton every probe main shares. A probe's [[run]] measures on
  * the session it is given and returns its PROBES.json row; it never
  * stops the session or exits, so a spec can call it on the shared
  * test session. [[main]] adds the rest: SPARK_GRAFT_CPUS (default 32)
  * checked before anything starts, the host-noise window, the session,
  * the gated record and the exit code.
  *
  * A probe's other env knobs are vals of its object, so they too are
  * checked when the main starts, before any session. */
trait Probe {

  def run(spark: SparkSession): Probe.Row

  def main(args: Array[String]): Unit = {
    val cpus = Sessions.cpus(32)
    ProbeLog.hostStart()
    val spark = Sessions.local(cpus)
    val findings = try Probe.record(run(spark)) finally spark.stop()
    Probe.exitOn(findings)
  }
}

object Probe {

  /** One probe row: the PROBES.json metric it replaces, the one-line
    * JSON row, and the probe's own hard failures (reported and exited
    * on beside the gate's regression findings). */
  final case class Row(metric: String, line: String,
      failures: Seq[String] = Nil)

  type Timing = (String, Double, Long)

  /** SPARK_GRAFT_SCALE_COPIES, the corpus multiple of a scale probe. */
  def copies(default: Int): Int =
    Sessions.envInt("SPARK_GRAFT_SCALE_COPIES", default)

  /** CoresProbe's SPARK_GRAFT_CORES_LO / _HI (default 8 / 32) from
    * `env`: both integers >= 1, and lo <= hi. */
  def coresAxis(env: Map[String, String]): (Int, Int) = {
    def knob(name: String, default: Int) =
      Sessions.positiveInt(name, env.get(name), default)
    val (lo, hi) = (knob("SPARK_GRAFT_CORES_LO", 8),
      knob("SPARK_GRAFT_CORES_HI", 32))
    require(lo <= hi,
      s"SPARK_GRAFT_CORES_LO ($lo) must not exceed SPARK_GRAFT_CORES_HI ($hi)")
    (lo, hi)
  }

  /** Prints `row` and records it in PROBES.json, gated against the
    * committed row of its metric ([[ProbeLog.recordGated]]). Returns
    * the gate's findings plus the probe's own failures. */
  def record(row: Row): Seq[String] = {
    println(row.line)
    ProbeLog.recordGated(row.metric, row.line) ++ row.failures
  }

  /** Exits 1 after listing `findings` on stderr; returns when clean. */
  def exitOn(findings: Seq[String]): Unit =
    if (findings.nonEmpty) {
      findings.foreach(f => System.err.println(s"[probe] REGRESSION: $f"))
      sys.exit(1)
    }

  /** Seconds and rows of one timed leg. */
  def timed(name: String)(rows: => Long): Timing = {
    val t0 = System.nanoTime()
    val r = rows
    (name, (System.nanoTime() - t0) / 1e9, r)
  }

  /** Each registered query in `names`, run to a count on `dir`. */
  def time(spark: SparkSession, names: Seq[String], dir: String): Seq[Timing] =
    names.map { n =>
      System.err.println(s"[probe] $n @ $dir")
      timed(n)(SparkEntry.queries(n)(spark, dir).count())
    }

  /** Bench-style untimed warm-up: a self-join on `key` pays the JIT,
    * codegen and footer costs before the first timed leg. */
  def warm(df: DataFrame, key: String): Unit =
    df.join(df.select(key), key).agg(count(lit(1))).collect()

  /** The metric of a scale probe: `base` at the standing 10x, suffixed
    * `_<N>x` otherwise, so 10x and 100x rows coexist. */
  def metric(base: String, copies: Int): String =
    if (copies == 10) base else s"${base}_${copies}x"

  /** The row of a base-vs-scaled probe. `extra` holds comma-terminated
    * probe-specific fields, placed before `"sf"`. */
  def scaledRow(metric: String, copies: Int, synthesized: Boolean,
      base: Seq[Timing], scaled: Seq[Timing], src: String,
      extra: String = ""): Row = {
    import ProbeLog.js
    Row(metric, s"""{"metric":"$metric","copies":$copies,""" +
      s""""synthesis_run":$synthesized,""" +
      s""""base":${js(base)},"scaled":${js(scaled)},""" +
      s""""ratios":${ProbeLog.ratios(base, scaled)},""" + extra +
      s""""sf":"$src",${ProbeLog.hostJson()}}""")
  }

  /** Basename of a source dir for tagging scratch roots — pure path
    * string math, any FS scheme. The tag keeps a stale corpus built
    * from another base sf from being probed (a 100x sf0.01 run once
    * reused the 10x sf0.1 dir). */
  def srcTag(src: String): String = new org.apache.hadoop.fs.Path(src).getName

  /** Runs `write` unless `dir` already carries its `_READY` marker,
    * then marks it. Returns true when THIS call synthesized: probe rows
    * record it as `synthesis_run`, so the gate can annotate a timing
    * firing whose GC profile carried the synthesis churn. The marker
    * goes through the Hadoop FileSystem API, so a root on HDFS/S3/ABFS
    * behaves like the local /tmp roots. */
  def synthesizeOnce(spark: SparkSession, dir: String)(write: => Unit): Boolean = {
    val ready = new org.apache.hadoop.fs.Path(s"$dir/_READY")
    val fs = ready.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(ready)) false
    else { write; fs.create(ready, true).close(); true }
  }

  /** The union of `copy(0) .. copy(copies - 1)`, written as 32 parquet
    * files at `path`. */
  def writeCopies(copies: Int, path: String)(copy: Int => DataFrame): Unit =
    (0 until copies).map(copy).reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(path)
}
