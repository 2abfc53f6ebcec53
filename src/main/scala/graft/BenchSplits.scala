package graft

/** The file-split confs of graft.Bench's session: 512 KB scan splits
  * and a 64 KB per-file open cost, so the bench inputs split into
  * several scan tasks instead of one 128 MB split. Sessions that must
  * plan like the bench (PlanDump, the probes) take them from here;
  * Bench keeps its own literals, and a spec pins them to these. */
object BenchSplits {
  val confs: Map[String, String] = Map(
    "spark.sql.files.maxPartitionBytes" -> "524288",
    "spark.sql.files.openCostInBytes" -> "65536")
}
