package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The TopOnePerKeyToArgmax optimizer rule: the row_number()=1 idiom
  * must plan as a hash aggregation (no Window operator), produce the
  * window-identical rows, and leave every guarded shape untouched.
  * (The full 110-query DuckDB gate also runs with the rule active —
  * graft.Verify registers it — so every oracle doubles as a
  * regression harness for the rewrite.)
  */
class ArgmaxRuleSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    ("a", 30L, 1.5, 1L), ("a", 10L, 2.5, 2L), ("a", 20L, 3.5, 3L),
    ("b", 5L, 4.5, 4L), ("b", 7L, 0.5, 5L))
    .toDF("k", "ts", "v", "id")

  private def rn1(desc: Boolean) = {
    val w = if (desc) Window.partitionBy("k").orderBy(col("ts").desc)
      else Window.partitionBy("k").orderBy(col("ts"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  test("row_number()=1 desc rewrites to an aggregate and keeps results") {
    val q = rn1(desc = true)
    val opt = q.queryExecution.optimizedPlan.toString
    opt should include("Aggregate")
    opt should not include "Window ["
    opt should not include "WindowGroupLimit"
    q.select("k", "ts", "v", "id", "rn")
      .as[(String, Long, Double, Long, Int)].collect().toSet shouldBe
      Set(("a", 30L, 1.5, 1L, 1), ("b", 7L, 0.5, 5L, 1))
  }

  test("row_number()=1 asc on a long key rewrites overflow-safely") {
    val q = rn1(desc = false)
    q.queryExecution.optimizedPlan.toString should not include "Window ["
    q.select("k", "ts").as[(String, Long)].collect().toSet shouldBe
      Set(("a", 10L), ("b", 5L))
  }

  test("guarded shapes keep their Window: rn<=2, nullable asc, no keys") {
    val wDesc = Window.partitionBy("k").orderBy(col("ts").desc)
    val top2 = df.withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") <= 2)
    top2.queryExecution.optimizedPlan.toString should include("Window")
    top2.count() shouldBe 4L

    // nullable ASC key: NULLS FIRST cannot map onto max(), must not fire
    val nullable = df.withColumn("nk",
      when(col("id") === 2, lit(null).cast("long")).otherwise(col("ts")))
    val wNull = Window.partitionBy("k").orderBy(col("nk"))
    val qNull = nullable.withColumn("rn", row_number().over(wNull))
      .filter(col("rn") === 1)
    qNull.queryExecution.optimizedPlan.toString should include("Window")
    // the null key must win its partition under NULLS FIRST
    qNull.filter(col("k") === "a").select("id").as[Long].head() shouldBe 2L

    // no partition keys: a global aggregate would fabricate a row on
    // empty input, so the rule must not fire
    val wGlobal = Window.orderBy(col("ts").desc)
    val qGlobal = df.filter(col("ts") > 100)
      .withColumn("rn", row_number().over(wGlobal)).filter(col("rn") === 1)
    qGlobal.count() shouldBe 0L
  }

  test("rewrite matches the window result on random data") {
    val n = 500
    val data = (1 to n).map { i =>
      (s"k${i % 13}", (i * 2654435761L) % 997, i.toLong)
    }
    val rdf = data.toDF("k", "ts", "id")
    val w = Window.partitionBy("k").orderBy(col("ts").desc)
    val got = rdf.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("k", "ts").as[(String, Long)].collect().toSet
    // model: max ts per key (ts values are unique per key here)
    val model = data.groupBy(_._1).map { case (k, rows) =>
      (k, rows.map(_._2).max)
    }.toSet
    got shouldBe model
  }
}
