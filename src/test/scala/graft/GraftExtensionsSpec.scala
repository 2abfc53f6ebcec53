package graft

import org.apache.spark.sql.SparkSession
import graft.sinks.{DriverScan, DriverScanExec, KeyedUpsert}

class GraftExtensionsSpec extends SparkSpec {

  test("registered SQL functions evaluate through spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT regexp_extract_all_negate('75.3W', '[0-9.]+[NSEW]', 0) AS c,
        |       vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d""".stripMargin)
      .head
    r.getString(0) shouldBe "-75.3"
    r.getDouble(1) shouldBe 11.0
  }

  test("register installs the argmax rule and the lookup strategy once") {
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    spark.experimental.extraStrategies.count(_ == DriverScan) shouldBe 1
    spark.experimental.extraOptimizations
      .count(_ == graft.plans.TopOnePerKeyToArgmax) shouldBe 1
  }

  test("a fresh session built with the extensions class resolves them too") {
    import spark.implicits._
    val dir = tmp("ext")
    KeyedUpsert.upsert(spark, dir, Seq(("a", 1), ("b", 2)).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    // what `spark.sql.extensions=graft.GraftExtensions` runs at session
    // build; that static conf is read from the SparkContext, which this
    // JVM already has, so the class is handed to the builder directly
    val s2 = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try {
      s2.experimental.extraStrategies shouldBe empty // never registered
      s2.sql("SELECT vec_dot(array(1.0D), array(2.0D))")
        .head.getDouble(0) shouldBe 2.0
      val lookup = KeyedUpsert.read(s2, dir).filter($"k" === "b")
      lookup.collect().map(_.getInt(1)).toSeq shouldBe Seq(2)
      lookup.queryExecution.executedPlan shouldBe a[DriverScanExec]
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("nfc_normalize composes decomposed text and passes NFC through") {
    // "é" decomposed (e + combining acute) must compose to U+00E9;
    // already-composed and pure-ASCII inputs come back unchanged
    val decomposed = "Cafe\u0301" // e + U+0301 combining acute
    val composed = "Caf\u00e9"
    val rows = spark.sql(
      s"SELECT nfc_normalize('$decomposed') AS a, " +
        s"nfc_normalize('$composed') AS b, " +
        "nfc_normalize('plain ascii') AS c, " +
        "nfc_normalize(CAST(NULL AS STRING)) AS d")
      .head
    rows.getString(0) shouldBe composed
    rows.getString(1) shouldBe composed
    rows.getString(2) shouldBe "plain ascii"
    rows.isNullAt(3) shouldBe true
  }

  test("nfc_normalize rejects non-string input at analysis time") {
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      spark.sql("SELECT nfc_normalize(42)").collect()
  }

  test("byte_stride rejects a non-literal, NULL, or non-positive stride cleanly") {
    GraftExtensions.register(spark)
    // a valid call still works
    spark.sql("SELECT byte_stride(CAST('abcdef' AS BINARY), 2) AS b")
      .head.getAs[Array[Byte]](0) shouldBe "ace".getBytes
    def failsWith(sql: String, fragment: String): Unit = {
      val e = the[org.apache.spark.sql.AnalysisException] thrownBy
        spark.sql(sql).collect()
      e.getMessage should include("byte_stride")
      e.getMessage should include(fragment)
    }
    failsWith(
      "SELECT byte_stride(CAST(CAST(id AS STRING) AS BINARY), CAST(id AS INT)) " +
        "FROM range(3)",
      "not a constant")
    failsWith("SELECT byte_stride(CAST('ab' AS BINARY), CAST(NULL AS INT))",
      "NULL")
    failsWith("SELECT byte_stride(CAST('ab' AS BINARY), 0)", "stride is 0")
    failsWith("SELECT byte_stride(CAST('ab' AS BINARY))", "argument")
  }
}
