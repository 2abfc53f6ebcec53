package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory for every main and spec other than
  * graft.Bench. Its confs are exactly Bench's: `cpus` local threads
  * and as many shuffle partitions, UTC, 512 KB scan splits with a 64 KB
  * per-file open cost (so the bench inputs split into several scan
  * tasks, not one 128 MB split), UI off. A session that plans like the
  * bench (PlanGate, PlanDump, Verify, the probes) takes them from here;
  * Bench keeps its own literals, and SessionsSpec pins the two
  * together. */
object Sessions {

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "524288")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")

  /** The session with the engine's full surface: native SQL functions,
    * the argmax rule and the checkpoint-manager default. */
  def local(cpus: Int): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }

  /** `raw` as an integer >= 1, `default` when absent. Anything else
    * fails naming `name`, so a bad knob stops a main before its session
    * starts instead of surfacing later as a Spark or collection error. */
  def positiveInt(name: String, raw: Option[String], default: Int): Int =
    raw.fold(default) { s =>
      s.trim.toIntOption.filter(_ >= 1).getOrElse(throw
        new IllegalArgumentException(s"$name must be an integer >= 1, got '$s'"))
    }

  /** The env knob `name` through [[positiveInt]]. */
  def envInt(name: String, default: Int): Int =
    positiveInt(name, sys.env.get(name), default)

  /** SPARK_GRAFT_CPUS, the local thread count of a main's session. */
  def cpus(default: Int): Int = envInt("SPARK_GRAFT_CPUS", default)
}
