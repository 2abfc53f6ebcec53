package graft

/** Diagnostic: print the formatted AQE-final physical plan of registered
  * queries.
  *
  * Usage: `sbt "runMain graft.PlanDump q51_pagerank d11_cosine_lsh_sized"`
  * (no args = a one-line [[PlanGate.fingerprint]] — join, exchange,
  * SinglePartition and codegen counts — for EVERY registered query, the
  * round's plan-audit worklist). SPARK_GRAFT_SF_DIR picks the corpus
  * (default sf0.001).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local(Sessions.cpus(4))
    def planOf(name: String): String = PlanGate.finalPlan(spark, name, sfDir)

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
      SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
        try println(f"$n%-30s " + PlanGate.fingerprint(planOf(n))
            .map { case (k, v) => f"$k=$v%2d" }.mkString(" "))
        catch { case e: Throwable =>
          println(f"$n%-30s ERROR ${e.getClass.getSimpleName}")
        }
      }
    }
    spark.stop()
  }
}
