package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bench builds its session from literals; every other main and the
  * shared test session take [[Sessions.builder]]. Pinning the factory
  * to Bench's source keeps PlanGate, Verify and the probes planning
  * like the bench runs. */
class SessionsSpec extends AnyFunSuite with Matchers {

  /** The options `b` has set. The builder's `options` map is protected
    * in Scala but public in bytecode, so reflection reads it. */
  private def optionsOf(b: SparkSession.Builder): Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.Map[String, String]].toMap

  test("the factory sets exactly Bench's master and confs, cpus = n") {
    val bench = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/Bench.scala")), StandardCharsets.UTF_8)
    // a conf value is a string literal or Bench's `cpus` identifier
    val confs = """\.config\("([^"]+)", (?:"([^"]*)"|(\w+))\)""".r
      .findAllMatchIn(bench).map { m =>
        Option(m.group(3)).foreach(_ shouldBe "cpus")
        m.group(1) -> Option(m.group(2))
      }.toSeq
    confs.map(_._1) should contain allOf ("spark.sql.shuffle.partitions",
      "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val master = """\.master\(s?"([^"]*)"\)""".r
      .findAllMatchIn(bench).map(_.group(1)).toSeq
    master shouldBe Seq("local[$cpus]")
    for (n <- Seq(1, 3, 16)) {
      val expected = confs.map { case (k, v) => k -> v.getOrElse(n.toString) }
        .toMap + ("spark.master" -> master.head.replace("$cpus", n.toString))
      optionsOf(Sessions.builder(n)) shouldBe expected
    }
  }

  test("env knobs take integers >= 1 and fail naming the variable otherwise") {
    Sessions.positiveInt("SPARK_GRAFT_CPUS", None, 4) shouldBe 4
    Sessions.positiveInt("SPARK_GRAFT_CPUS", Some(" 12 "), 4) shouldBe 12
    for (bad <- Seq("0", "-3", "x", "", "1.5", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        Sessions.positiveInt("SPARK_GRAFT_SCALE_COPIES", Some(bad), 10))
      e.getMessage should include("SPARK_GRAFT_SCALE_COPIES")
    }
    Probe.coresAxis(Map.empty) shouldBe ((8, 32))
    Probe.coresAxis(Map("SPARK_GRAFT_CORES_LO" -> "4",
      "SPARK_GRAFT_CORES_HI" -> "4")) shouldBe ((4, 4))
    intercept[IllegalArgumentException](
      Probe.coresAxis(Map("SPARK_GRAFT_CORES_HI" -> "x")))
      .getMessage should include("SPARK_GRAFT_CORES_HI")
    val inverted = intercept[IllegalArgumentException](
      Probe.coresAxis(Map("SPARK_GRAFT_CORES_LO" -> "16",
        "SPARK_GRAFT_CORES_HI" -> "8"))).getMessage
    inverted should (include("SPARK_GRAFT_CORES_LO") and
      include("SPARK_GRAFT_CORES_HI"))
  }
}
