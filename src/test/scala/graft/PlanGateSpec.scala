package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pure tests for the plan-fingerprint gate (no Spark session): feature
  * counting over a formatted plan (the whole AQE-final plan, each
  * operator once), the line format, and the gate's change/addition
  * semantics. */
class PlanGateSpec extends AnyFunSuite with Matchers {

  private val formatted =
    """== Physical Plan ==
      |AdaptiveSparkPlan (14)
      |+- == Final Plan ==
      |   * HashAggregate (9)
      |   +- AQEShuffleRead (8)
      |      +- ShuffleQueryStage (7), Statistics(sizeInBytes=1.0 KiB, rowCount=4)
      |         +- Exchange (6)
      |            +- * BroadcastHashJoin Inner BuildRight (5)
      |               :- * Project (2)
      |               :  +- LocalTableScan (1)
      |               +- BroadcastExchange (4)
      |                  +- LocalTableScan (3)
      |+- == Initial Plan ==
      |   HashAggregate (13)
      |   +- Exchange (12)
      |      +- SortMergeJoin Inner (11)
      |         :- Project (2)
      |         :  +- LocalTableScan (1)
      |         +- Sort (10)
      |            +- LocalTableScan (3)
      |
      |
      |(1) LocalTableScan
      |Output [1]: [k#1]
      |(2) Project [codegen id : 1]
      |Input [1]: [k#1]
      |(3) LocalTableScan
      |Output [1]: [k#2]
      |(4) BroadcastExchange
      |Arguments: HashedRelationBroadcastMode(List(input[0, int, false]),false), [plan_id=1]
      |(5) BroadcastHashJoin [codegen id : 1]
      |Join type: Inner
      |(6) Exchange
      |Arguments: hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=2]
      |(7) ShuffleQueryStage
      |Arguments: 0
      |(8) AQEShuffleRead
      |Arguments: coalesced
      |(9) HashAggregate [codegen id : 2]
      |Keys [1]: [k#1]
      |(10) Sort
      |Arguments: [k#2 ASC NULLS FIRST], false, 0
      |(11) SortMergeJoin
      |Join type: Inner
      |(12) Exchange
      |Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]
      |(13) HashAggregate
      |Keys [1]: [k#1]
      |(14) AdaptiveSparkPlan
      |Arguments: isFinalPlan=true
      |""".stripMargin

  test("fingerprint counts the final plan only, not the Initial Plan") {
    val fp = PlanGate.fingerprint(formatted).toMap
    fp("smj") shouldBe 0 // the SMJ (11) is the Initial Plan's alone
    fp("single") shouldBe 0 // so is the SinglePartition Exchange (12)
    fp("bhj") shouldBe 1
    fp("exch") shouldBe 2 // Exchange (6) and BroadcastExchange (4)
    fp("cg") shouldBe 3 // (2), (5) and the root (9)
    fp("cart") shouldBe 0
  }

  /** A plan joining a cached frame to a local table, as formatted
    * mode prints it: the frame's `InMemoryRelation` prints its own
    * adaptive plan inside the tree, with its sections indented as Spark
    * indents them, and ids number the final plans first, then the
    * Initial-only operators, then each `AdaptiveSparkPlan`.
    * `buildLeft` broadcasts the cached side instead of the local one. */
  private def cachedJoin(buildLeft: Boolean): String = {
    val nested =
      """                           +- == Final Plan ==
        |                              ResultQueryStage (8)
        |                              +- * HashAggregate (7)
        |                                 +- ShuffleQueryStage (6), Statistics(sizeInBytes=1.0 KiB, rowCount=10)
        |                                    +- Exchange (5)
        |                                       +- * ColumnarToRow (4)
        |                                          +- Scan parquet  (3)
        |                           +- == Initial Plan ==
        |                              HashAggregate (10)
        |                              +- Exchange (9)
        |                                 +- Scan parquet  (3)
        |""".stripMargin
    val (tree, swapped) =
      if (buildLeft) (
        """   +- * BroadcastHashJoin Inner BuildLeft (17)
          |      :- BroadcastQueryStage (15), Statistics(sizeInBytes=1.0 MiB, rowCount=10)
          |      :  +- BroadcastExchange (14)
          |      :     +- * Filter (13)
          |      :        +- TableCacheQueryStage (12), Statistics(sizeInBytes=1.0 KiB, rowCount=10)
          |      :           +- InMemoryTableScan (1)
          |      :                 +- InMemoryRelation (2)
          |      :                       +- AdaptiveSparkPlan (11)
          |""".stripMargin + nested +
        """      +- LocalTableScan (16)
          |""".stripMargin,
        Map(14 -> "BroadcastExchange", 15 -> "BroadcastQueryStage", 16 -> "LocalTableScan"))
      else (
        """   +- * BroadcastHashJoin Inner BuildRight (17)
          |      :- * Filter (13)
          |      :  +- TableCacheQueryStage (12), Statistics(sizeInBytes=1.0 KiB, rowCount=10)
          |      :     +- InMemoryTableScan (1)
          |      :           +- InMemoryRelation (2)
          |      :                 +- AdaptiveSparkPlan (11)
          |""".stripMargin + nested +
        """      +- BroadcastQueryStage (16), Statistics(sizeInBytes=1.0 MiB, rowCount=3)
          |         +- BroadcastExchange (15)
          |            +- LocalTableScan (14)
          |""".stripMargin,
        Map(14 -> "LocalTableScan", 15 -> "BroadcastExchange", 16 -> "BroadcastQueryStage"))
    val local = swapped.collectFirst { case (n, "LocalTableScan") => n }.get
    val initial =
      s"""+- == Initial Plan ==
         |   BroadcastHashJoin Inner BuildRight (21)
         |   :- Filter (19)
         |   :  +- InMemoryTableScan (1)
         |   :        +- InMemoryRelation (2)
         |   :              +- AdaptiveSparkPlan (11)
         |$nested   +- BroadcastExchange (20)
         |      +- LocalTableScan ($local)
         |""".stripMargin
    val ops = Map(1 -> "InMemoryTableScan", 2 -> "InMemoryRelation", 3 -> "Scan parquet ",
      4 -> "ColumnarToRow [codegen id : 1]", 5 -> "Exchange", 6 -> "ShuffleQueryStage",
      7 -> "HashAggregate [codegen id : 2]", 8 -> "ResultQueryStage", 9 -> "Exchange",
      10 -> "HashAggregate", 11 -> "AdaptiveSparkPlan", 12 -> "TableCacheQueryStage",
      13 -> "Filter [codegen id : 3]", 17 -> "BroadcastHashJoin [codegen id : 3]",
      18 -> "ResultQueryStage", 19 -> "Filter", 20 -> "BroadcastExchange",
      21 -> "BroadcastHashJoin", 22 -> "AdaptiveSparkPlan") ++ swapped
    "== Physical Plan ==\nAdaptiveSparkPlan (22)\n+- == Final Plan ==\n" +
      "   ResultQueryStage (18)\n" + tree + initial + "\n\n" +
      ops.toSeq.sorted.map { case (n, op) => s"($n) $op\nOutput [1]: [k#1]\n" }.mkString
  }

  test("a build-side swap over a cached frame leaves the fingerprint unchanged") {
    val (right, left) = (cachedJoin(buildLeft = false), cachedJoin(buildLeft = true))
    right should not equal left
    PlanGate.fingerprint(left) shouldBe PlanGate.fingerprint(right)
    // the whole final plan: Exchange (5) of the cached frame and the one
    // BroadcastExchange; codegen (4), (7), (13) and (17)
    PlanGate.fingerprint(right) shouldBe Seq("smj" -> 0, "bhj" -> 1, "shj" -> 0,
      "bnlj" -> 0, "cart" -> 0, "exch" -> 2, "single" -> 0, "cg" -> 4)
  }

  test("line renders a flat sorted-input JSON object") {
    PlanGate.line("q01", Seq("smj" -> 0, "bhj" -> 2)) shouldBe
      """{"q":"q01","smj":0,"bhj":2}"""
  }

  test("diff fires on a changed count and on an error sentinel") {
    val old = """{"q":"a","smj":0,"bhj":1}""" + "\n" +
      """{"q":"b","exch":2}""" + "\n"
    val now = """{"q":"a","smj":1,"bhj":1}""" + "\n" +
      """{"q":"b","exch":2,"err":1}""" + "\n"
    PlanGate.diff(old, now) shouldBe Seq("a: smj 0 -> 1", "b: err 0 -> 1")
  }

  test("added and removed queries are not findings") {
    val old = """{"q":"a","smj":0}""" + "\n"
    val now = """{"q":"b","smj":5}""" + "\n"
    PlanGate.diff(old, now) shouldBe empty
    PlanGate.diff("", now) shouldBe empty
  }

  test("parse round-trips the line format") {
    val text = PlanGate.line("x", Seq("smj" -> 1, "cg" -> 7)) + "\n"
    PlanGate.parse(text) shouldBe Map("x" -> Map("smj" -> 1, "cg" -> 7))
  }
}
