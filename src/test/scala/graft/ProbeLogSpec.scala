package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The PROBES.json regression gate: replace-by-metric recording would
  * otherwise let a future edit silently overwrite a good row with a
  * degenerate one — the gate turns that into a nonzero probe exit.
  */
class ProbeLogSpec extends AnyFunSuite with Matchers {

  private def line(ratios: String = "", drops: String = "",
      scaled: String = ""): String =
    s"""{"metric":"m","copies":10,"scaled":{$scaled},""" +
      s""""ratios":{$ratios},"scaled_drops":{$drops},"sf":"x"}"""

  test("metric field is parsed, not substring-matched") {
    ProbeLog.metricOf("""{"metric":"scale_probe","x":1}""") shouldBe
      Some("scale_probe")
    // a VALUE mentioning another metric's name must not match
    ProbeLog.metricOf("""{"metric":"a","note":"\"metric\":\"b\""}""") shouldBe
      Some("a")
    ProbeLog.metricOf("not json") shouldBe None
  }

  test("metric parse survives an embedded metric-literal EARLIER in the line") {
    // a first-match regex would key this row as "b" and replace the
    // wrong metric's row on the next record
    ProbeLog.metricOf("""{"note":"\"metric\":\"b\"","metric":"a"}""") shouldBe
      Some("a")
  }

  test("JSON number formatting is locale-independent") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.FRANCE) // comma decimals
      ProbeLog.fmt(0.333, 2) shouldBe "0.33"
      val frag = ProbeLog.js(Seq(("q", 1.2341, 7L)))
      frag shouldBe """{"q":{"sec":1.234,"rows":7}}"""
      // and the full ratios fragment stays parseable
      org.json4s.jackson.JsonMethods.parse(
        ProbeLog.ratios(Seq(("q", 2.0, 10L)), Seq(("q", 3.0, 20L))))
    } finally java.util.Locale.setDefault(prev)
  }

  test("cores rows gate on speedup collapse and sub-1.0 ratio worsening") {
    def cline(spd: String, ratios: String) =
      s"""{"metric":"cores_probe","cores_lo":8,"cores_hi":32,""" +
        s""""ratios":{$ratios},"speedup":{$spd},"sf":"x"}"""
    val old = cline(""""d03":{"speedup":1.90,"efficiency":0.48}""",
      """"d03":{"time_ratio":0.53,"rows_ratio":1.0}""")
    // healthy re-run inside drift: clean
    ProbeLog.regressionsVs(old,
      cline(""""d03":{"speedup":1.70,"efficiency":0.43}""",
        """"d03":{"time_ratio":0.59,"rows_ratio":1.0}""")) shouldBe Seq.empty
    // total scalability loss (speedup 1.9 -> 0.90, ratio 0.53 -> 1.05):
    // the failure CoresProbe exists to catch — rule 1's doubling
    // threshold (2x + 1.0) never fires here, rule 4 must
    val regs = ProbeLog.regressionsVs(old,
      cline(""""d03":{"speedup":0.90,"efficiency":0.23}""",
        """"d03":{"time_ratio":1.05,"rows_ratio":1.0}"""))
    regs.exists(_.contains("speedup")) shouldBe true
    regs.exists(_.contains("time_ratio")) shouldBe true
    // a committed flatliner (no >=1.5 speedup) only gates via the
    // ratio rule, not the speedup rule
    val oldFlat = cline(""""t28":{"speedup":0.87,"efficiency":0.22}""",
      """"t28":{"time_ratio":1.15,"rows_ratio":1.0}""")
    ProbeLog.regressionsVs(oldFlat,
      cline(""""t28":{"speedup":0.40,"efficiency":0.10}""",
        """"t28":{"time_ratio":2.50,"rows_ratio":1.0}""")) shouldBe Seq.empty
    // data-scaling rows (no speedup block) keep the lenient rule only:
    // 0.7 -> 1.5 stays clean there (asserted again for contrast)
    val oldData = line(ratios = """"q2":{"time_ratio":0.70,"rows_ratio":1.0}""")
    ProbeLog.regressionsVs(oldData,
      line(ratios = """"q2":{"time_ratio":1.50,"rows_ratio":1.0}""")) shouldBe
      Seq.empty
  }

  test("host telemetry: snapshot reads /proc/stat, fragment is valid JSON") {
    val snap = ProbeLog.hostSnap()
    snap.totalTicks should be > 0L // this container IS Linux
    ProbeLog.hostStart()
    val frag = s"{${ProbeLog.hostJson()}}"
    val j = org.json4s.jackson.JsonMethods.parse(frag)
    (j \ "host" \ "steal_pct") should not be org.json4s.JNothing
    (j \ "host" \ "load1") should not be org.json4s.JNothing
    // round-17 fields: load1 at window open + the calibration legs
    (j \ "host" \ "load1_start") should not be org.json4s.JNothing
    (j \ "host" \ "calib_start_sec") should not be org.json4s.JNothing
    (j \ "host" \ "calib_end_sec") should not be org.json4s.JNothing
  }

  test("calibration micro-leg: fixed work, plausible wall band") {
    // deterministic workload; wall time varies only with contention.
    // The band is deliberately loose (a loaded CI host may read 3-4x
    // nominal) — the point here is "really ran", not "ran quiet".
    val sec = ProbeLog.calibrate()
    sec should be > 0.05
    sec should be < 30.0
  }

  test("timing firings are ANNOTATED when the calibration leg drifted " +
      "— the co-tenant signal steal cannot see") {
    def cline(ratios: String, host: String) =
      s"""{"metric":"m","ratios":{$ratios},"host":$host}"""
    val old = cline(""""q1":{"time_ratio":2.0}""",
      """{"steal_pct":0.00,"load1":0.5}""")
    // the r16 class: steal reads quiet, but the calibration legs say
    // the JVM's timed work was contended — the firing must carry the
    // calibration annotation
    val contaminated = ProbeLog.regressionsVs(old,
      cline(""""q1":{"time_ratio":16.0}""",
        """{"steal_pct":0.00,"load1":6.15,"load1_start":0.4,""" +
          """"calib_start_sec":0.980,"calib_end_sec":2.510}"""))
    contaminated should not be empty
    contaminated.foreach(_ should include("calibration leg drifted"))
    // quiet legs on a real firing: no calibration annotation
    val quiet = ProbeLog.regressionsVs(old,
      cline(""""q1":{"time_ratio":16.0}""",
        """{"steal_pct":0.00,"load1":0.5,"load1_start":0.4,""" +
          """"calib_start_sec":0.970,"calib_end_sec":1.020}"""))
    quiet should not be empty
    quiet.foreach(_ should not include "calibration leg drifted")
    // one slow leg alone (start quiet, end contended) also annotates:
    // contamination that ARRIVES mid-run is exactly the r16 shape
    val midRun = ProbeLog.calibNoteOf(Some(0.98), Some(1.55))
    midRun should not be None
    // pre-r17 rows carry no legs: no note, never a crash
    ProbeLog.calibNoteOf(None, None) shouldBe None
  }

  test("timing firings are ANNOTATED (not suppressed) when the fresh " +
      "row ran under nonzero steal") {
    def cline(spd: String, ratios: String, host: String = "") =
      s"""{"metric":"cores_probe","ratios":{$ratios},"speedup":{$spd}""" +
        (if (host.isEmpty) "}" else s""","host":$host}""")
    val old = cline(""""d03":{"speedup":1.90}""",
      """"d03":{"time_ratio":0.53}""")
    val firing = cline(""""d03":{"speedup":0.80}""",
      """"d03":{"time_ratio":1.20}""",
      host = """{"steal_pct":7.41,"load1":2.00}""")
    val regs = ProbeLog.regressionsVs(old, firing)
    regs should not be empty // annotated, never suppressed
    regs.foreach(_ should include("steal_pct=7.41"))
    // a quiet-host firing carries no annotation
    val quiet = ProbeLog.regressionsVs(old,
      cline(""""d03":{"speedup":0.80}""", """"d03":{"time_ratio":1.20}""",
        host = """{"steal_pct":0.00,"load1":0.50}"""))
    quiet should not be empty
    quiet.foreach(_ should not include "steal_pct")
  }

  test("timing firings are ANNOTATED when the fresh row carried corpus " +
      "synthesis in the timed JVM (synthesis_run=true)") {
    val old =
      """{"metric":"scale_probe","ratios":{"d12":{"time_ratio":2.0}}}"""
    def fresh(syn: String) =
      s"""{"metric":"scale_probe","synthesis_run":$syn,""" +
        """"ratios":{"d12":{"time_ratio":16.0}}}"""
    val regs = ProbeLog.regressionsVs(old, fresh("true"))
    regs should not be empty // annotated, never suppressed
    regs.foreach(_ should include("synthesis_run=true"))
    // a _READY re-run (no synthesis) carries no annotation
    val rerun = ProbeLog.regressionsVs(old, fresh("false"))
    rerun should not be empty
    rerun.foreach(_ should not include "synthesis_run")
  }

  test("time_ratio doubling (plus slack) is a regression; drift is not") {
    val old = line(ratios = """"q1":{"time_ratio":4.40,"rows_ratio":1.0}""")
    // 4.4 -> 6.0: host drift band, clean
    ProbeLog.regressionsVs(old,
      line(ratios = """"q1":{"time_ratio":6.00,"rows_ratio":1.0}""")) shouldBe
      Seq.empty
    // 4.4 -> 10.2 (> 2x + 1.0): shape change, flagged
    val regs = ProbeLog.regressionsVs(old,
      line(ratios = """"q1":{"time_ratio":10.20,"rows_ratio":1.0}"""))
    regs should have size 1
    regs.head should include("q1")
    // sub-1x committed ratios gate against the 1.0 floor, so noise on
    // fast queries (0.7 -> 1.5) stays clean ...
    val oldFlat = line(ratios = """"q2":{"time_ratio":0.70,"rows_ratio":1.0}""")
    ProbeLog.regressionsVs(oldFlat,
      line(ratios = """"q2":{"time_ratio":1.50,"rows_ratio":1.0}""")) shouldBe
      Seq.empty
    // ... but a flat row turning super-linear is flagged
    ProbeLog.regressionsVs(oldFlat,
      line(ratios = """"q2":{"time_ratio":3.10,"rows_ratio":1.0}""")) should
      have size 1
  }

  test("a drop counter going zero -> nonzero is a regression") {
    val old = line(drops = """"graft.lsh.minhash":0""")
    ProbeLog.regressionsVs(old,
      line(drops = """"graft.lsh.minhash":0""")) shouldBe Seq.empty
    ProbeLog.regressionsVs(old,
      line(drops = """"graft.lsh.minhash":123""")).head should
      include("graft.lsh.minhash")
    // a counter that was ALREADY nonzero in the committed row (a known,
    // documented drop regime) is not re-flagged
    val oldDropping = line(drops = """"graft.lsh.simhash":50""")
    ProbeLog.regressionsVs(oldDropping,
      line(drops = """"graft.lsh.simhash":80""")) shouldBe Seq.empty
  }

  test("a completed row turning rows=-1 is a regression") {
    val old = line(scaled = """"d06_sized":{"sec":10.0,"rows":120}""")
    ProbeLog.regressionsVs(old,
      line(scaled = """"d06_sized":{"sec":99.0,"rows":-1}""")).head should
      include("d06_sized")
    // already-failed contrast rows stay non-regressions
    val oldFailed = line(scaled = """"d05":{"sec":9.0,"rows":-1}""")
    ProbeLog.regressionsVs(oldFailed,
      line(scaled = """"d05":{"sec":9.0,"rows":-1}""")) shouldBe Seq.empty
  }

  test("batches_axis per_batch_ratio creep is a regression; flat is not") {
    def axisLine(ratio: String): String =
      s"""{"metric":"m","batches_axis":{"st21":{"sec4":4.0,"sec8":8.0,""" +
        s""""per_batch_ratio":$ratio}},"sf":"x"}"""
    // healthy committed 0.95; a fresh 1.00 is within slack
    ProbeLog.regressionsVs(axisLine("0.95"),
      axisLine("1.00")) shouldBe Seq.empty
    // per-batch cost growing linearly with batches seen reads ~1.8 at
    // the 8-vs-4 split — must fire, by name
    val regs = ProbeLog.regressionsVs(axisLine("0.95"), axisLine("1.80"))
    regs should have size 1
    regs.head should include("st21")
    regs.head should include("per_batch_ratio")
    // a row without the committed axis gates clean (pre-axis rounds)
    ProbeLog.regressionsVs(
      """{"metric":"m","sf":"x"}""", axisLine("1.80")) shouldBe Seq.empty
  }

  test("record replaces by parsed metric and gates against the old row") {
    val root = java.nio.file.Files.createTempDirectory("probelog")
    val f = root.resolve("PROBES.json")
    System.setProperty("graft.probes.file", f.toString)
    try {
      ProbeLog.record("a", line(ratios = """"q":{"time_ratio":1.0}""")
        .replaceFirst("\"m\"", "\"a\""))
      ProbeLog.record("b", """{"metric":"b","v":1}""")
      // same metric replaces its row, the other row survives
      val regs = ProbeLog.recordGated("a",
        line(ratios = """"q":{"time_ratio":9.9}""")
          .replaceFirst("\"m\"", "\"a\""))
      regs should have size 1 // gated vs the committed 1.0 row
      val lines = new String(java.nio.file.Files.readAllBytes(f))
        .split("\n").filter(_.nonEmpty)
      lines should have size 2
      lines.count(l => ProbeLog.metricOf(l).contains("a")) shouldBe 1
      ProbeLog.currentLine("a").get should include("9.9")
      // a metric with no committed row gates clean
      ProbeLog.recordGated("c", """{"metric":"c","v":2}""") shouldBe Seq.empty
    } finally {
      System.clearProperty("graft.probes.file")
      Dirs.deleteTree(root)
    }
  }
}
