package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Micro-profile of the hyperplane bucket hashing in isolation — the
  * discriminating experiment for the fed-cores finding that s02 burns
  * ~27 ms of CPU per vector (~2700x the arithmetic cost of 88
  * 64-dim dots). Times the bucket projection at several plane counts,
  * with and without whole-stage codegen, so "giant generated method
  * fell out of JIT" separates from "codegen is fine, the cost is
  * elsewhere".
  *
  * Run: `sbt "runMain graft.HashProfile <embDir>"`.
  */
object HashProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft-scale-sf0.01-100"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config(BenchSplits.confs)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    def time(tag: String)(body: => Any): Unit = {
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[hashprofile] $tag%-40s $s%8.2f s  (n=$n)")
    }
    // warm-up
    emb.agg(count(lit(1))).collect()
    for (planes <- Seq(3, 8, 11); wsc <- Seq(true, false)) {
      spark.conf.set("spark.sql.codegen.wholeStage", wsc)
      time(s"buckets planes=$planes codegen=$wsc") {
        vector.Ann.withLshBuckets(emb, planesPerTable = planes)
          .agg(sum("bucket")).collect()
      }
    }
    spark.conf.set("spark.sql.codegen.wholeStage", true)
    // the dot alone, 88x per row but as ONE column summed — tree depth
    // without the fold/when chain
    time("88 dots summed, no fold") {
      val vd = col("embedding").cast("array<double>")
      val dots = (0 until 88).map(p =>
        graft.functions.DotProduct(vd, vector.Ann.planeLitPublic(p, 64)))
      emb.select(dots.reduce(_ + _).as("s")).agg(sum("s")).collect()
    }
    spark.stop()
  }
}
