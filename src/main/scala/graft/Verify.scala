package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: run only these query names (local iteration);
    // the driver passes exactly two args and gets the full registry.
    val only = args.drop(2).toSet
    // full engine surface: SQL-callable native functions + the argmax
    // optimizer rule — every gate query runs THROUGH the extensions
    val spark = Sessions.local(Sessions.cpus(4))
    // deliberately local java.io: outDir is the DRIVER's dump dir by
    // contract (the grading harness reads it off the local disk)
    new java.io.File(outDir).mkdirs()
    // A query that throws must surface as a RED row, never a silent
    // absence: collect errors and publish them as errors.json so the
    // gate (and tools/local_verify.py) can report crashes explicitly.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // progress marker BEFORE the run: Spark WARN lines (e.g.
      // CacheManager double-persist notices) become attributable to a
      // query by position in the log instead of needing a rerun
      System.err.println(s"[verify] $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    // loud summary, but exit 0: the driver must still harvest the
    // per-query dumps + errors.json for the queries that did succeed
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
  }
}
