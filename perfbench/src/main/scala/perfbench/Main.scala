package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. `run.py` stages the inputs and then
  * starts this main once per run:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *
  * It creates the session with the same confs as `graft.Bench`, runs the
  * workload through the library's public functions only, and writes
  * `<workDir>/jvm_result.json` (raw samples, scalars, correctness checks,
  * host record) and, when traced, `<workDir>/spans.jsonl`. `run.py`
  * turns those into the metrics it prints. */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val rec = new Rec
    val t0 = System.nanoTime()
    val spark = session(workDir)
    rec.scalar("session_s", (System.nanoTime() - t0) / 1e9)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, rec, tracer, workDir, seed, seconds)
    try {
      workload match {
        case "ingest" => Ingest.run(ctx)
        case "serve_reads" => Serve.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      tracer.foreach { t =>
        t.finish(rec)
        t.writeSpans(new File(workDir, "spans.jsonl"))
      }
      write(new File(workDir, "jvm_result.json"), rec.json)
    } finally spark.stop()
  }

  /** The session confs of `graft.Bench` at its default of 4 cores, plus
    * scratch locations inside the run's work directory. */
  def session(workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "524288")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.register(spark)
    spark
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  def write(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Reset, then later read, the peak used bytes of every heap pool. */
  def resetPeakHeap(): Unit = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }
  def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}

/** Everything a workload needs. */
case class Ctx(spark: SparkSession, rec: Rec, tracer: Option[Tracer],
    workDir: String, seed: Long, seconds: Double) {
  def dir(sub: String): String = new File(workDir, sub).getAbsolutePath

  /** Sizes and rates `run.py` chose for this workload (conf.properties). */
  private lazy val props = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(new File(workDir, "conf.properties"))
    try p.load(in) finally in.close()
    p
  }
  def conf(key: String): Double = Option(props.getProperty(key))
    .getOrElse(throw new IllegalArgumentException(s"missing conf $key")).toDouble

  /** Closes the host-noise window `graft.ProbeLog.hostStart()` opened:
    * steal %, load and the calibration legs, kept with the results. */
  def hostEnd(): Unit = rec.host(graft.ProbeLog.hostJson().stripPrefix("\"host\":"))

  /** Gate: every scheduled publish or write began within
    * `lateness_limit_ms` of its due time (`lateness_ms` samples). */
  def checkLateness(wrongOps: Long): Unit = {
    val worst = rec.max("lateness_ms")
    rec.check("on_schedule", worst <= conf("lateness_limit_ms"),
      s"worst lateness $worst ms", wrongOps)
  }

  /** Time `f` as a span of `layer` when traced; plain call otherwise. */
  def span[T](layer: String, name: String, op: String)(f: => T): T =
    tracer match {
      case Some(t) => t.span(layer, name, op)(f)
      case None => f
    }

  /** Run `f` with Spark jobs attributed to `op` (thread-local). */
  def asOp[T](op: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpKey, op)
    try f finally sc.setLocalProperty(Tracer.OpKey, null)
  }
}

/** Thread-safe sink for scalars, raw samples and correctness checks. */
class Rec {
  private val sc = mutable.LinkedHashMap[String, Double]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  private var attempted = 0L
  private var failed = 0L
  private var hostBlock = "{}"

  def scalar(k: String, v: Double): Unit = synchronized { sc(k) = v }
  def scalars: Map[String, Double] = synchronized(sc.toMap)
  def sample(k: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  }
  def op(ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
  }
  /** A correctness gate; a failed gate marks `wrongOps` operations failed. */
  def check(name: String, ok: Boolean, detail: String, wrongOps: Long = 0): Unit =
    synchronized {
      checks += ((name, ok, detail))
      if (!ok) failed += wrongOps
    }
  def host(json: String): Unit = synchronized { hostBlock = json }
  def count(k: String): Int = synchronized(samples.get(k).map(_.size).getOrElse(0))
  def max(k: String): Double =
    synchronized(samples.get(k).filter(_.nonEmpty).map(_.max).getOrElse(0.0))
  def total(k: String): Double = synchronized(samples.get(k).map(_.sum).getOrElse(0.0))

  def json: String = synchronized {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val scs = sc.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")
    val sa = samples.map { case (k, v) =>
      s"${str(k)}:[${v.map(num).mkString(",")}]" }.mkString(",")
    val ch = checks.map { case (n, ok, d) =>
      s"""{"name":${str(n)},"ok":$ok,"detail":${str(d)}}""" }.mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"scalars":{$scs},""" +
      s""""samples":{$sa},"checks":[$ch],"host":$hostBlock}"""
  }
}
