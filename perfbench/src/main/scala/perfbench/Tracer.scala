package perfbench

import java.io.File
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Local property naming the operation a Spark job belongs to. */
  val OpKey = "perfbench.op"
  private val QueryIdKey = "sql.streaming.queryId"
  private val BatchIdKey = "streaming.sql.batchId"

  /** Operation id of one micro-batch of one streaming query run. */
  def batchOp(queryId: String, batchId: Long): String = s"$queryId/$batchId"

  /** The order in which a micro-batch runs its reported phases, each with
    * the layer it is charged to. */
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "sources", "walCommit" -> "streaming",
    "getBatch" -> "sources", "queryPlanning" -> "streaming",
    "addBatch" -> "streaming", "commitOffsets" -> "streaming")
}

/** In-memory trace of one run: one span per harness call into a layer,
  * one span per trigger with its phases as children, plus Spark's own
  * job/task, query-execution and streaming-progress events. Attached
  * only in the traced run. */
class Tracer(spark: SparkSession) {
  import Tracer._

  case class Span(id: Long, parent: Long, layer: String, name: String,
      op: String, startMs: Double, endMs: Double)
  private class JobRec(val op: String, val startMs: Long) {
    @volatile var endMs: Long = -1
    var tasks, cpuNs, shuffleBytes, spillBytes, inBytes, inRecords,
      outBytes, outRecords = 0L
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val parentOf = new ThreadLocal[java.lang.Long]()
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val stageStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val planning = new ConcurrentLinkedQueue[(Long, Double)]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  def span[T](layer: String, name: String, op: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = Option(parentOf.get).map(_.longValue).getOrElse(0L)
    parentOf.set(id)
    val s = nowMs
    try f finally {
      spans.add(Span(id, parent, layer, name, op, s, nowMs))
      if (parent == 0L) parentOf.remove() else parentOf.set(parent)
    }
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
      val op = prop(OpKey).orElse(for {
        q <- prop(QueryIdKey); b <- prop(BatchIdKey)
      } yield batchOp(q, b.toLong)).getOrElse("other")
      jobs.put(e.jobId, new JobRec(op, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageStart.put(e.stageInfo.stageId, System.currentTimeMillis())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      if (m != null) j.foreach { r => r.synchronized {
        r.tasks += 1
        r.cpuNs += m.executorCpuTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.inBytes += m.inputMetrics.bytesRead
        r.inRecords += m.inputMetrics.recordsRead
        r.outBytes += m.outputMetrics.bytesWritten
        r.outRecords += m.outputMetrics.recordsWritten
      } }
      stageTasks.synchronized {
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          e.taskInfo.duration
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      planning.add((System.currentTimeMillis(), ms))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Turn progress events into trigger spans with phase children, hang
    * the harness sink spans of each micro-batch under its addBatch
    * phase, and record the per-layer metrics of the measured window
    * (`window_start_ms` .. `window_end_ms` scalars set by the workload;
    * `ops` is its operation count when it has no streaming triggers). */
  def finish(rec: Rec): Unit = {
    org.apache.spark.ListenerDrain(spark.sparkContext, 10000)
    val sc = rec.scalars
    val (w0, w1) = (sc("window_start_ms"), sc("window_end_ms"))
    def inWindow(ms: Double) = ms >= w0 && ms <= w1
    val addBatchOf = mutable.Map[String, Long]()
    val progs = progress.asScala.toSeq
    for (p <- progs) {
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val op = batchOp(p.id.toString, p.batchId)
      val trig = ids.incrementAndGet()
      spans.add(Span(trig, 0L, "streaming", "trigger", op, start,
        start + d.getOrElse("triggerExecution", 0L)))
      var t = start
      for ((phase, layer) <- Phases; ms <- d.get(phase)) {
        val id = ids.incrementAndGet()
        spans.add(Span(id, trig, layer, phase, op, t, t + ms))
        if (phase == "addBatch") addBatchOf(op) = id
        t += ms
      }
    }
    val all = spans.asScala.toSeq
    spans.clear()
    all.foreach { s =>
      val parent = if (s.parent == 0L && s.layer != "streaming")
        addBatchOf.getOrElse(s.op, 0L) else s.parent
      spans.add(s.copy(parent = parent))
    }

    // streaming phases, per data trigger in the window
    val wprogs = progs.filter(p =>
      inWindow(Instant.parse(p.timestamp).toEpochMilli.toDouble))
    val dataTriggers = wprogs.count(_.numInputRows > 0)
    def perTrigger(v: Double) = if (dataTriggers == 0) 0.0 else v / dataTriggers
    def phase(k: String) = perTrigger(wprogs.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum)
    rec.scalar("streaming.triggers", wprogs.size)
    rec.scalar("sources.latest_offset_ms", phase("latestOffset"))
    rec.scalar("sources.get_batch_ms", phase("getBatch"))
    rec.scalar("streaming.wal_commit_ms", phase("walCommit"))
    rec.scalar("streaming.commit_offsets_ms", phase("commitOffsets"))
    rec.scalar("streaming.query_planning_ms", phase("queryPlanning"))
    rec.scalar("streaming.add_batch_ms", phase("addBatch"))
    rec.scalar("streaming.trigger_ms", phase("triggerExecution"))
    val phaseSum = Phases.map(p => phase(p._1)).sum
    val trig = phase("triggerExecution")
    rec.scalar("streaming.phase_share", if (trig > 0) phaseSum / trig else 0.0)
    val ops = wprogs.flatMap(_.stateOperators)
    rec.scalar("streaming.state_rows", wprogs.lastOption
      .map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0))
    rec.scalar("streaming.state_bytes", wprogs.lastOption
      .map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0))
    rec.scalar("streaming.state_commit_ms", perTrigger(ops.map(_.commitTimeMs).sum))
    rec.scalar("streaming.late_dropped_rows",
      ops.map(_.numRowsDroppedByWatermark).sum.toDouble)

    // Spark jobs of the window, per operation
    val nOps = if (dataTriggers > 0) dataTriggers.toDouble
      else sc.getOrElse("ops", 1.0).max(1.0)
    val wjobs = jobs.asScala.values.filter(j => inWindow(j.startMs)).toSeq
    def perOp(f: JobRec => Long) = wjobs.map(f).sum / nOps
    rec.scalar("spark.jobs_per_op", wjobs.size / nOps)
    rec.scalar("spark.tasks_per_op", perOp(_.tasks))
    rec.scalar("spark.executor_cpu_ms", perOp(_.cpuNs) / 1e6)
    rec.scalar("spark.shuffle_bytes", perOp(_.shuffleBytes))
    rec.scalar("spark.spill_bytes", perOp(_.spillBytes))
    rec.scalar("spark.input_bytes", perOp(_.inBytes))
    rec.scalar("spark.planning_ms",
      planning.asScala.filter(p => inWindow(p._1)).map(_._2).sum / nOps)
    val skews = stageTasks.synchronized {
      stageTasks.toSeq.filter { case (s, ds) =>
        ds.size >= 2 && Option(stageStart.get(s)).exists(t => inWindow(t))
      }.map { case (_, ds) =>
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2).max(1L)
        sorted.last.toDouble / med
      }
    }
    rec.scalar("spark.task_skew",
      if (skews.isEmpty) 1.0 else skews.sum / skews.size)
    // driver gap: op wall time during which none of its jobs ran
    val byOp = wjobs.groupBy(_.op)
    val roots = spans.asScala.filter(s => s.parent == 0L &&
      inWindow(s.startMs) && byOp.contains(s.op)).toSeq
    val gaps = roots.map { s =>
      val iv = byOp(s.op).map(j => (j.startMs.toDouble,
        (if (j.endMs < 0) j.startMs else j.endMs).toDouble))
        .map { case (a, b) => (a max s.startMs, b min s.endMs) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      // union length of the sorted intervals
      val union = iv.foldLeft((0.0, Double.NegativeInfinity)) {
        case ((acc, end), (a, b)) =>
          if (a >= end) (acc + (b - a), b)
          else if (b > end) (acc + (b - end), b)
          else (acc, end)
      }._1
      (s.endMs - s.startMs) - union
    }
    rec.scalar("spark.driver_gap_ms",
      if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size)
    // sink writes: jobs, rows and bytes of the upsert operations
    val sinkOps = spans.asScala.filter(s => s.layer == "sinks" &&
      s.name == "upsert" && inWindow(s.startMs)).map(_.op).toSet
    val sinkJobs = wjobs.filter(j => sinkOps.contains(j.op))
    rec.scalar("sinks.upsert_jobs",
      if (sinkOps.isEmpty) 0.0 else sinkJobs.size.toDouble / sinkOps.size)
    val outRows = sinkJobs.map(_.outRecords).sum
    rec.scalar("sinks.bytes_written_per_row",
      if (outRows == 0) 0.0 else sinkJobs.map(_.outBytes).sum.toDouble / outRows)
    val readOps = spans.asScala.filter(s => s.layer == "sinks" &&
      s.name == "read" && inWindow(s.startMs)).map(_.op).toSet
    val readJobs = wjobs.filter(j => readOps.contains(j.op))
    val returned = rec.total("rows_returned")
    rec.scalar("sinks.rows_scanned_per_row",
      if (returned == 0) 0.0 else readJobs.map(_.inRecords).sum / returned)
  }

  def writeSpans(f: File): Unit = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${str(s.layer)},""" +
        s""""name":${str(s.name)},"op":${str(s.op)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    Main.write(f, lines.mkString("", "\n", "\n"))
  }
}
