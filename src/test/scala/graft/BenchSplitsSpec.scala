package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bench builds its session with literal split confs; PlanDump and the
  * probes read [[BenchSplits.confs]]. Pinning the constant to Bench's
  * source keeps committed plan evidence planned like the bench runs. */
class BenchSplitsSpec extends AnyFunSuite with Matchers {

  test("BenchSplits.confs equals the split confs Bench's session sets") {
    val bench = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/Bench.scala")), StandardCharsets.UTF_8)
    val setInBench = """\.config\("(spark\.sql\.files\.[A-Za-z]+)", "([^"]*)"\)""".r
      .findAllMatchIn(bench).map(m => m.group(1) -> m.group(2)).toMap
    setInBench shouldBe BenchSplits.confs
  }
}
