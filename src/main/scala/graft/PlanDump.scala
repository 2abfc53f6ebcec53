package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic: print the formatted physical plan of registered queries.
  *
  * Usage: `sbt "runMain graft.PlanDump q51_pagerank d11_cosine_lsh_sized"`
  * (no args = a compact one-line summary of join/exchange/codegen counts
  * for EVERY registered query — the round's plan-audit worklist).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // mirror Bench's file-split confs so the audited plans carry the
    // same scan splits and Spread probe decisions the bench session
    // sees (the defaults' 128 MB splits keep every input under one
    // split and hide the respread exchanges from the dump)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(BenchSplits.confs)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)

    def planOf(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // AQE-final plan
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    }

    // SPARK_GRAFT_PLAN_OUT=<dir> [+ SPARK_GRAFT_PLAN_SUFFIX=before|after]
    // writes each named query's plan to <dir>/<query>_<suffix>.txt —
    // the committed plans/rNN evidence files
    val outDir = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    if (args.nonEmpty) args.foreach { n =>
      outDir match {
        case Some(dir) =>
          val p = try planOf(n) catch {
            case e: Throwable => s"ERROR ${e.getClass.getName}: ${e.getMessage}"
          }
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"${n}_$suffix.txt"),
            p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plandump] wrote $dir/${n}_$suffix.txt")
        case None =>
          println(s"========== $n ==========")
          println(planOf(n))
      }
    } else {
      // count only the AQE FINAL plan: the "Initial Plan" section that
      // follows it renders the pre-adaptive plan, whose operator set can
      // legitimately differ (SMJ->BHJ conversion, coalesced exchanges) —
      // halving total hits would mis-count exactly those plans
      def c(p: String, re: String) =
        re.r.findAllIn(p.split("== Initial Plan ==")(0)).size
      SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
        try {
          val p = planOf(n)
          println(f"$n%-30s smj=${c(p, "SortMergeJoin")}%2d " +
            f"bhj=${c(p, "BroadcastHashJoin")}%2d " +
            f"bnlj=${c(p, "BroadcastNestedLoop")}%2d " +
            f"exch=${c(p, "Exchange")}%2d " +
            // codegen'd operators render as "+- * Op (n)" in the final
            // tree (formatted mode never prints "WholeStageCodegen")
            f"cg=${c(p, "[+:]- \\* ")}%2d")
        } catch { case e: Throwable =>
          println(f"$n%-30s ERROR ${e.getClass.getSimpleName}")
        }
      }
    }
    spark.stop()
  }
}
