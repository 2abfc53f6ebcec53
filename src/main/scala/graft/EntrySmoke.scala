package graft

/** Local smoke for the driver's t1 check: SparkEntry.entry rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, truncate = false)
    spark.stop()
  }
}
