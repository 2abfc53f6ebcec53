package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-JOB wall-clock breakdown for one registered query — the
  * root-causing companion to [[CoresProbe]]: when a query reads ~1.0x
  * speedup on a fed corpus, the question is WHERE the time goes — a
  * few long jobs (a compute stage that should scale but doesn't) or
  * many short ones (driver-side job-submission latency an iterative
  * operator pays per round, which more cores cannot buy back).
  *
  * Run: `sbt "runMain graft.JobProfiler <query> <sfDir> [cores]"` —
  * prints one line per Spark job (duration, description) plus the
  * job-count/total summary.
  */
object JobProfiler {

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args(1)
    val spark = Sessions.local(Sessions.positiveInt("cores", args.lift(2), 32))

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts.put(j.jobId, (j.time, desc))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.get(j.jobId)).foreach { case (t0, desc) =>
          jobs.add((j.jobId, (j.time - t0) / 1e3, desc))
        }
      }
    })
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Double, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val wall = (for {
          a <- i.completionTime; b <- i.submissionTime
        } yield (a - b) / 1e3).getOrElse(-1.0)
        val cpu = i.taskMetrics.executorRunTime / 1e3
        stages.add((i.stageId, wall, cpu, i.numTasks, i.name.take(90)))
      }
    })

    // untimed warm-up on the smallest corpus: JIT + codegen
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
    jobs.clear()
    val t0 = System.nanoTime()
    val rows = SparkEntry.queries(name)(spark, dir).count()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener bus drain
    import scala.jdk.CollectionConverters._
    val js = jobs.asScala.toSeq.sortBy(-_._2)
    println(f"[jobprofile] $name rows=$rows total=$total%.2f s " +
      f"jobs=${js.size} jobTimeSum=${js.map(_._2).sum}%.2f s")
    js.take(25).foreach { case (id, sec, desc) =>
      println(f"[jobprofile]   job=$id%4d $sec%8.2f s  ${desc.take(110)}")
    }
    stages.asScala.toSeq.sortBy(-_._2).take(25).foreach {
      case (id, wall, cpu, n, nm) =>
        println(f"[stageprofile] stage=$id%4d wall=$wall%8.2f s " +
          f"cpuSum=$cpu%8.2f s tasks=$n%4d  $nm")
    }
    spark.stop()
  }
}
