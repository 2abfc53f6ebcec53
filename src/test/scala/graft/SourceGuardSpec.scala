package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source guards against hand-wired copies growing back in main-source
  * CODE (comments may still name what they guard):
  *  - the bounded streaming run is wired in ONE place,
  *    `StreamOps.runBounded` / `runBoundedToParquet`, so no other file
  *    sets `"checkpointLocation"` or `Trigger.AvailableNow`;
  *  - sessions come from ONE factory, `Sessions`, so no file other than
  *    it and Bench (whose literals SessionsSpec pins it to) calls
  *    `SparkSession.builder`;
  *  - the drift gate's firing rule, `drift_num · 10^6 > ppm · n · prev_n`,
  *    is stated once, in `DriftGate.fires`;
  *  - KeyedUpsert reads its tables only through the manifest, so
  *    `spark.read` (a `DataSource` resolution) never occurs in it. */
class SourceGuardSpec extends AnyFunSuite with Matchers {

  private val Tokens = Seq("Trigger.AvailableNow", "\"checkpointLocation\"")

  /** `src` with every comment removed; string and char literals kept. */
  private def codeOf(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def copyTo(end: Int): Unit = { out ++= src.substring(i, end); i = end }
    while (i < src.length) {
      if (src.startsWith("\"\"\"", i)) {
        val j = src.indexOf("\"\"\"", i + 3)
        copyTo(if (j < 0) src.length else j + 3)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, src.length))
      } else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val j = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2)
        copyTo(if (j < 0) src.length else j + 1)
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) src.length else j
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        do {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < src.length)
      } else copyTo(i + 1)
    }
    out.toString
  }

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  private lazy val mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  test("only StreamOps sets a checkpoint location or the AvailableNow " +
      "trigger in main-source code") {
    // the scanner itself: comment mentions vanish, code and strings stay
    codeOf("/** Trigger.AvailableNow /* nested */ */ x // \"checkpointLocation\"\n" +
      "val s = \"a // b\"; val c = '\"'; y") shouldBe
      " x \nval s = \"a // b\"; val c = '\"'; y"
    val files = mainSources
    files.size should be > 100
    val (runner, others) =
      files.partition(_.getFileName.toString == "StreamOps.scala")
    runner.size shouldBe 1
    // positive control: the runner's own wiring is found as code
    Tokens.foreach(t => codeOf(read(runner.head)) should include(t))
    val offenders = for {
      f <- others
      code = codeOf(read(f))
      t <- Tokens if code.contains(t)
    } yield s"$f: $t"
    offenders shouldBe empty
  }

  test("only Bench and Sessions call SparkSession.builder in main-source code") {
    mainSources.filter(f => codeOf(read(f)).contains("SparkSession.builder"))
      .map(_.getFileName.toString).toSet shouldBe
      Set("Bench.scala", "Sessions.scala")
  }

  test("only DriftGate states the firing comparison in main-source code") {
    val firing = """\*\s*1000000\s*>""".r
    val (gate, others) =
      mainSources.partition(_.getFileName.toString == "DriftGate.scala")
    gate.size shouldBe 1
    // positive control: the gate's own rule is found as code, once
    firing.findAllIn(codeOf(read(gate.head))).size shouldBe 1
    others.filter(f => firing.findFirstIn(codeOf(read(f))).isDefined)
      .map(_.toString) shouldBe empty
  }

  test("KeyedUpsert never calls spark.read in main-source code") {
    val (sink, others) =
      mainSources.partition(_.getFileName.toString == "KeyedUpsert.scala")
    sink.size shouldBe 1
    codeOf(read(sink.head)) should not include "spark.read"
    // positive control: the scanner finds the call where it is code
    others.filter(f => codeOf(read(f)).contains("spark.read.parquet"))
      .map(_.getFileName.toString) should contain("DriftGate.scala")
  }
}
