package graft

import org.apache.spark.sql.functions._

/** Co-located join via bucketed tables: when both sides of a repeated
  * equi-join are written `bucketBy` the join key with the same bucket
  * count, Spark plans the join with NO exchange on either side — the
  * 100 TB answer for fact-to-fact joins that recur every batch (the
  * shuffle is paid once at write time, then amortized across every
  * join). This is the storage-layout counterpart of the broadcast
  * strategy PlanSpec pins for small dims.
  */
class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  test("join of two bucketed tables plans with no shuffle exchange") {
    val root = tmp("bucketed")
    val events = graft.sources.Tables.events(spark, SfDir)
      .select($"event_id", $"user_id", $"value")
    val users = events.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"value").as("total"))
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable auto-broadcast: at test scale the aggregate side is tiny
    // and would broadcast, which hides the property under test (the
    // co-location shuffle-freedom that holds when BOTH sides are big)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      events.write.format("parquet").bucketBy(8, "user_id")
        .sortBy("user_id").option("path", s"$root/ev")
        .mode("overwrite").saveAsTable("ev_bucketed")
      users.write.format("parquet").bucketBy(8, "user_id")
        .sortBy("user_id").option("path", s"$root/us")
        .mode("overwrite").saveAsTable("us_bucketed")
      val joined = spark.table("ev_bucketed")
        .join(spark.table("us_bucketed"), "user_id")
      joined.collect().length shouldBe events.count()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // both sides read pre-bucketed: the join needs no repartition
      plan should not include "Exchange hashpartitioning"
      plan should include("SortMergeJoin")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS ev_bucketed")
      spark.sql("DROP TABLE IF EXISTS us_bucketed")
    }
  }
}
