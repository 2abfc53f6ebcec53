package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** The probe skeleton: a probe's `run` goes through [[Probe.record]] on a
  * live session without stopping it or exiting, and reproduces the
  * committed row's shape. CcChainProbe is the probe cheap enough for the
  * suite: synthetic chains of 256/4,096 nodes and 500/2,000 docs. */
class ProbeSpec extends SparkSpec {

  private def read(p: java.nio.file.Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  test("CcChainProbe.run records through Probe and matches the committed row") {
    val probes = Paths.get("PROBES.json")
    val before = read(probes)
    val committed = before.split("\n")
      .find(l => ProbeLog.metricOf(l).contains("cc_chain_probe")).get
    val scratch = Paths.get(tmp("probespec"), "PROBES.json")
    Files.write(scratch, (committed + "\n").getBytes(StandardCharsets.UTF_8))
    System.setProperty("graft.probes.file", scratch.toString)
    val row = try {
      val r = CcChainProbe.run(spark)
      Probe.record(r) // timing findings depend on this host: not asserted
      r
    } finally System.clearProperty("graft.probes.file")

    row.metric shouldBe "cc_chain_probe"
    val (fresh, old) = (parse(row.line), parse(committed))
    def keys(j: JValue) = j match {
      case JObject(fs) => fs.map(_._1).toSet
      case _ => Set.empty[String]
    }
    keys(fresh) shouldBe keys(old)
    for (leg <- Seq("base", "scaled"); q <- Seq("cc_chain", "d07_chain"))
      withClue(s"$leg/$q rows: ") {
        (fresh \ leg \ q \ "rows") shouldBe (old \ leg \ q \ "rows")
      }
    row.failures shouldBe empty // the round bound held
    read(scratch).trim shouldBe row.line
    read(probes) shouldBe before
    spark.range(3).count() shouldBe 3 // the session is still live
  }
}
