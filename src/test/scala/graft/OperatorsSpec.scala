package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, ConnectedComponents, GapFill, RangeJoin,
  Sessionize}
import graft.text.{Repetition, TextFns}

/** Specs for the round-3 operators: as-of join, session windows (incl.
  * the gap-boundary semantics the st05 oracle encodes), repetition
  * metrics and PII redaction.
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  // ---- AsOfJoin ----------------------------------------------------

  test("as-of join picks the latest right row at-or-before each left ts") {
    val left = Seq((1L, "a", 100L), (2L, "a", 200L), (3L, "a", 50L),
        (4L, "b", 100L))
      .toDF("lid", "k", "ts")
    val right = Seq(("a", 100L, 10L, 1.0), ("a", 150L, 11L, 2.0),
        ("b", 300L, 12L, 3.0))
      .toDF("k", "rts", "rid", "rv")
    val out = AsOfJoin.joinAsOf(left, right, "k", "ts", "rts",
        Seq("rid", "rv"), tieBreak = Seq("rid"))
      .orderBy("lid")
      .select("lid", "rid", "rv").as[(Long, Option[Long], Option[Double])]
      .collect()
    out shouldBe Seq(
      (1L, Some(10L), Some(1.0)),  // right at exactly ts is visible
      (2L, Some(11L), Some(2.0)),  // latest of the two
      (3L, None, None),            // before any right row
      (4L, None, None))            // right row is in the future
  }

  test("as-of join resolves equal-ts right rows by tieBreak") {
    val left = Seq((1L, "a", 100L)).toDF("lid", "k", "ts")
    val right = Seq(("a", 100L, 7L, 1.0), ("a", 100L, 9L, 2.0),
        ("a", 100L, 8L, 3.0))
      .toDF("k", "rts", "rid", "rv")
    val out = AsOfJoin.joinAsOf(left, right, "k", "ts", "rts",
        Seq("rid", "rv"), tieBreak = Seq("rid"))
      .select("rid", "rv").as[(Long, Double)].collect()
    out shouldBe Seq((9L, 2.0)) // highest tiebreak wins the carry
  }

  test("as-of join carries a null payload field atomically") {
    // regression: the matched right row has a NULL field (open-ended
    // validity); a per-column ignoreNulls carry would stitch that field
    // from the OLDER right row instead of keeping the null
    val left = Seq((1L, "a", 160L)).toDF("lid", "k", "ts")
    val right = Seq(("a", 100L, "r1", Some(200L)), ("a", 150L, "r2", None))
      .toDF("k", "rts", "rid", "removed")
    val out = AsOfJoin.joinAsOf(left, right, "k", "ts", "rts",
        Seq("rid", "removed"))
      .select("rid", "removed").as[(String, Option[Long])].collect()
    out shouldBe Seq(("r2", None))
  }

  test("as-of join rejects reserved-name and payload-name collisions") {
    val left = Seq((1L, "a", 100L)).toDF("lid", "k", "ts")
    val right = Seq(("a", 100L, 1.0)).toDF("k", "rts", "rv")
    // an input frame already using a helper name would be silently
    // clobbered without the guard
    an[IllegalArgumentException] should be thrownBy
      AsOfJoin.joinAsOf(left.withColumn("__tag", lit(9)), right,
        "k", "ts", "rts", Seq("rv"))
    an[IllegalArgumentException] should be thrownBy
      AsOfJoin.joinAsOf(left, right.withColumn("__payload", lit(0)),
        "k", "ts", "rts", Seq("rv"))
    // a payload column sharing a left column name would null it out
    an[IllegalArgumentException] should be thrownBy
      AsOfJoin.joinAsOf(left, right.withColumnRenamed("rv", "lid"),
        "k", "ts", "rts", Seq("lid"))
  }

  // ---- GapFill -----------------------------------------------------

  test("gap-fill resamples onto the grid and carries the last value") {
    val obs = Seq(
      ("a", 0L, 1.0, 1L), ("a", 30L, 2.0, 2L), // same bucket: latest wins
      ("a", 130L, 3.0, 3L),                    // bucket 120; 60 is a hole
      ("b", 60L, 9.0, 4L))
      .toDF("k", "ts_s", "v", "id")
    val out = GapFill.resample(obs, "k", "ts_s", "v", 60L,
        tieBreak = Seq("id"))
      .orderBy("k", "bucket_ts")
      .as[(String, Long, Double, Long)].collect().toSeq
    out shouldBe Seq(
      ("a", 0L, 2.0, 1L),
      ("a", 60L, 2.0, 0L), // carried across the silent bucket
      ("a", 120L, 3.0, 1L),
      ("b", 60L, 9.0, 1L))
  }

  test("gap-fill resolves identical timestamps by tieBreak") {
    val obs = Seq(("a", 10L, 1.0, 2L), ("a", 10L, 5.0, 1L))
      .toDF("k", "ts_s", "v", "id")
    val out = GapFill.resample(obs, "k", "ts_s", "v", 60L,
        tieBreak = Seq("id"))
      .select("v").as[Double].collect().toSeq
    out shouldBe Seq(1.0) // id=2 is the later observation
  }

  // ---- session_window boundary semantics ---------------------------

  test("session_window merges at exactly-gap and splits one second past it") {
    // gap = 30 min = 1800 s
    val df = Seq((1L, 0L, 1.0), (1L, 1800L, 1.0), // exactly gap: merges
        (2L, 0L, 1.0), (2L, 1801L, 1.0)) // one past gap: splits
      .toDF("user_id", "ets", "value")
    val sessions = df
      .groupBy(col("user_id"),
        session_window(timestamp_seconds(col("ets")), "30 minutes"))
      .agg(count(lit(1)).as("n"), min("ets").as("start"))
      .select("user_id", "start", "n").orderBy("user_id", "start")
      .as[(Long, Long, Long)].collect()
    // Spark merges a session whose window [ts, ts+gap] touches the next
    // event's start INCLUSIVELY — an event exactly gap after the last
    // still extends the session. st05's oracle mirrors this with
    // `diff <= 1800 -> same session`.
    sessions shouldBe Seq((1L, 0L, 2L), (2L, 0L, 1L), (2L, 1801L, 1L))
  }

  // ---- Repetition --------------------------------------------------

  test("repetition metrics: top word/bigram shares and type-token ratio") {
    val docs = Seq(
      (1L, "spam spam spam ham"), // top word 3/4, top bigram 2/3, ttr 2/4
      (2L, "all words differ here"), // 1/4, 1/3, 4/4
      (3L, "one")) // single word: no bigrams
      .toDF("doc_id", "text")
    val m = Repetition.metrics(docs).orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    m shouldBe Seq(
      (1L, 750000L, 666666L, 500000L),
      (2L, 250000L, 333333L, 1000000L),
      (3L, 1000000L, 0L, 1000000L))
  }

  // ---- ConnectedComponents -----------------------------------------

  test("connected components labels each node with its component min") {
    // two components: a 4-chain {1-2-3-4} and a pair {10,11}; a dup
    // edge and a self-loop must not perturb the labels
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (2L, 3L), (7L, 7L)).toDF("a", "b")
    val got = ConnectedComponents.run(pairs)
      .as[(Long, Long)].collect().sorted
    got shouldBe Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L))
  }

  test("connected components returns empty labels on an empty pair list") {
    // a corpus with zero near-dup pairs must yield an empty label
    // table (callers left-join it and keep everything as 'unique'),
    // not NPE on the null convergence sum — the m06 keep query hit
    // exactly this at sf0.01, where m05 finds no perceptual pairs
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    ConnectedComponents.run(empty).count() shouldBe 0L
    // self-loops only: every edge is dropped, same empty result
    val loops = Seq((5L, 5L), (9L, 9L)).toDF("a", "b")
    ConnectedComponents.run(loops).count() shouldBe 0L
  }

  test("connected components converges on a star and a long chain") {
    val star = (2L to 20L).map(i => (1L, i)).toDF("a", "b")
    ConnectedComponents.run(star).as[(Long, Long)].collect()
      .foreach { case (_, label) => label shouldBe 1L }
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    ConnectedComponents.run(chain).as[(Long, Long)].collect()
      .foreach { case (_, label) => label shouldBe 1L }
  }

  test("connected components: pointer jumping keeps chain rounds logarithmic") {
    // a 128-link chain has diameter 127; plain min-label propagation
    // needs ~127 rounds (one driver action each — the scale hazard the
    // doubling step removes), pointer jumping needs ~log2(127)+slack
    val chain = (0L until 127L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = ConnectedComponents.runWithRounds(chain)
    rounds should be <= 13 // ceil(log2(128)) + convergence-probe slack
    labels.as[(Long, Long)].collect()
      .foreach { case (_, label) => label shouldBe 0L }
    labels.count() shouldBe 128L
  }

  // ---- PII redaction -----------------------------------------------

  test("redactPii masks emails, phones and IPs with typed tags") {
    val redacted = Seq(
      "mail bob.smith+x@example.co.uk or call 555-867-5309 now",
      "server at 192.168.0.1 port open",
      "clean text stays clean")
      .toDF("text").select(TextFns.redactPii($"text"))
      .as[String].collect()
    redacted(0) shouldBe "mail <EMAIL> or call <PHONE> now"
    redacted(1) shouldBe "server at <IP> port open"
    redacted(2) shouldBe "clean text stays clean"
  }

  test("piiCounts tallies each category without double-counting emails") {
    val row = Seq("a@b.io c@d.net 10.0.0.1 and 555-123-4567")
      .toDF("text")
      .select(TextFns.piiCounts($"text").as("p"))
      .select("p.emails", "p.ips", "p.phones")
      .as[(Long, Long, Long)].collect()(0)
    row shouldBe ((2L, 1L, 1L))
  }

  // ---- Sessionize --------------------------------------------------

  test("sessionize keeps exactly-gap rows together and splits past it") {
    // gaps: 300 (stay), 301 (split), new key restarts numbering
    val df = Seq(("a", 1000L, 1L), ("a", 1300L, 2L), ("a", 1601L, 3L),
        ("b", 50L, 4L))
      .toDF("k", "ts", "id")
    val out = Sessionize.sessionize(df, Seq("k"), "ts", 300L,
        orderCols = Seq("id"))
      .orderBy("id").select("id", "session_seq")
      .as[(Long, Long)].collect()
    out shouldBe Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 1L))
  }

  test("sessionize breaks timestamp ties by orderCols deterministically") {
    val df = Seq(("a", 100L, 2L), ("a", 100L, 1L), ("a", 500L, 3L))
      .toDF("k", "ts", "id")
    val out = Sessionize.sessionize(df, Seq("k"), "ts", 300L,
        orderCols = Seq("id"))
      .orderBy("id").select("id", "session_seq")
      .as[(Long, Long)].collect()
    // tied rows share session 1; the 400-gap row starts session 2
    out shouldBe Seq((1L, 1L), (2L, 1L), (3L, 2L))
  }

  test("sessionize rejects a pre-existing session_seq column") {
    val df = Seq(("a", 1L, 1L)).toDF("k", "ts", "session_seq")
    an[IllegalArgumentException] should be thrownBy
      Sessionize.sessionize(df, Seq("k"), "ts", 10L)
  }

  // ---- RangeJoin ---------------------------------------------------

  test("range join matches half-open intervals across bin boundaries") {
    // bin=10: interval [5,25) spans bins 0-2; points probe one bin each
    val pts = Seq((1L, 4L), (2L, 5L), (3L, 15L), (4L, 24L), (5L, 25L))
      .toDF("pid", "pt")
    val iv = Seq((100L, 5L, 25L)).toDF("ivid", "lo", "hi")
    val out = RangeJoin.pointInInterval(pts, iv, "pt", "lo", "hi", 10L)
      .select("pid", "ivid").as[(Long, Long)].collect().sorted
    // 4 is before lo, 25 is AT the exclusive hi: both out
    out shouldBe Seq((2L, 100L), (3L, 100L), (4L, 100L))
  }

  test("range join emits each matching pair exactly once") {
    // interval far wider than the bin: the pair must not duplicate per
    // touched bin
    val pts = Seq((1L, 50L)).toDF("pid", "pt")
    val iv = Seq((9L, 0L, 1000L)).toDF("ivid", "lo", "hi")
    val out = RangeJoin.pointInInterval(pts, iv, "pt", "lo", "hi", 10L)
    out.count() shouldBe 1L
  }

  test("pagerank favors the hub, conserves mass, ignores partitioning") {
    import graft.operators.PageRank
    // star: leaves 1..4 each point at hub 0 (w=1); hub points back with
    // weight 1 each — mutualized, so no dangling leakage
    val edges = (1L to 4L).flatMap(l => Seq((l, 0L, 1L), (0L, l, 1L)))
      .toDF("src", "dst", "w")
    val r = PageRank.ranks(edges, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    r(0L) should be > r(1L) // the hub concentrates rank
    r(1L) shouldBe r(2L)    // symmetric leaves tie exactly
    // mass sums to Unit minus bounded truncation (< 1 pico per div)
    val total = r.values.sum
    total should be <= PageRank.Unit
    total should be > PageRank.Unit - 1000L
    // pure integer arithmetic: partitioning cannot change the result
    val r2 = PageRank.ranks(edges.repartition(7), iters = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    r2 shouldBe r
  }

  test("pagerank rejects a damping denominator that overflows the teleport mass") {
    import graft.operators.PageRank
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    // (den - num) * Unit > Long.MaxValue: must fail, not wrap negative
    an[ArithmeticException] should be thrownBy
      PageRank.ranks(edges, dampNum = 1, dampDen = 10000000)
    // the largest safe denominator still runs
    PageRank.ranks(edges, dampNum = 1, dampDen = 9000000).count() shouldBe 2L
  }

  test("range join respects equi-keys and drops empty intervals") {
    val pts = Seq((1L, "x", 10L), (2L, "y", 10L)).toDF("pid", "k", "pt")
    val iv = Seq((100L, "x", 0L, 20L), (200L, "y", 30L, 30L))
      .toDF("ivid", "k", "lo", "hi")
    val out = RangeJoin.pointInInterval(pts, iv, "pt", "lo", "hi", 10L,
        equiKeys = Seq("k"))
      .select("pid", "ivid").as[(Long, Long)].collect()
    // y's interval is empty (hi <= lo) and must not match — nor flood
    // the join via a descending sequence()
    out shouldBe Seq((1L, 100L))
    an[IllegalArgumentException] should be thrownBy
      RangeJoin.pointInInterval(pts, iv, "pt", "lo", "hi", 0L)
  }

  test("scd2: incremental batches equal the one-shot fold, intervals tile") {
    import graft.operators.Scd2
    // deterministic pseudo-random change log: 8 keys, 60 changes
    val changes = spark.range(0, 60).select(
      (col("id") * 37 % 8).as("k"),
      concat(lit("v"), col("id") * 53 % 4).as("attr"),
      (col("id") * 17 % 40).as("t"),
      col("id").as("seq"))
    val keys = Seq("k"); val attrs = Seq("attr")
    val oneShot = Scd2.applyChanges(
      Scd2.emptyDim(changes, keys, attrs, "t"),
      changes, keys, attrs, "t", "seq").cache()
    // time-ordered 3-way split must converge to the same dimension
    val d1 = Scd2.applyChanges(Scd2.emptyDim(changes, keys, attrs, "t"),
      changes.filter(col("t") < 15), keys, attrs, "t", "seq")
    val d2 = Scd2.applyChanges(d1, changes.filter(col("t").between(15, 29)),
      keys, attrs, "t", "seq")
    val d3 = Scd2.applyChanges(d2, changes.filter(col("t") >= 30),
      keys, attrs, "t", "seq")
    d3.exceptAll(oneShot).count() shouldBe 0L
    oneShot.exceptAll(d3).count() shouldBe 0L
    // exactly one open row per key present in the log
    oneShot.filter(col("valid_to").isNull).count() shouldBe
      changes.select("k").distinct().count()
    // intervals tile: each key's valid_to equals the next valid_from
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("valid_from")
    oneShot.withColumn("nxt", lead(col("valid_from"), 1).over(w))
      .filter(col("nxt").isNotNull && col("valid_to") =!= col("nxt"))
      .count() shouldBe 0L
    // consecutive intervals always change the attribute
    oneShot.withColumn("nxta", lead(col("attr"), 1).over(w))
      .filter(col("nxta").isNotNull && col("nxta") === col("attr"))
      .count() shouldBe 0L
    oneShot.unpersist()
  }

  test("expectations: split partitions rows, quarantine names the rules") {
    import graft.operators.Expectations
    import graft.operators.Expectations.Rule
    val df = Seq(
      (1L, "ok", Some(10.0)), (2L, "ok", Some(-5.0)),
      (3L, "bad", Some(10.0)), (4L, "bad", Some(-1.0)),
      (5L, "ok", None))
      .toDF("id", "status", "v")
    val rules = Seq(
      Rule("status_ok", col("status") === "ok"),
      Rule("v_nonneg", col("v") >= 0))
    val (clean, quarantine) = Expectations.split(df, rules)
    // null rule result counts as FAILED (unknown is not clean)
    clean.select("id").as[Long].collect().sorted shouldBe Seq(1L)
    val q = quarantine.select(col("id"), col("failed_rules"))
      .as[(Long, Seq[String])].collect().toMap
    q shouldBe Map(
      2L -> Seq("v_nonneg"), 3L -> Seq("status_ok"),
      4L -> Seq("status_ok", "v_nonneg"), 5L -> Seq("v_nonneg"))
    // split is a partition of the input
    clean.count() + quarantine.count() shouldBe df.count()
    // clean/quarantine carry no flag helper columns
    clean.columns should contain theSameElementsAs df.columns
    quarantine.columns should contain theSameElementsAs
      (df.columns :+ "failed_rules")
    // summary agrees with the split
    val s = Expectations.summary(df, rules)
      .select("rule", "n_fail").as[(String, Long)].collect().toMap
    s shouldBe Map("status_ok" -> 2L, "v_nonneg" -> 3L, "_all" -> 4L)
    // the whole check is one map-side pass: no Exchange in the plan
    Expectations.check(df, rules)
      .queryExecution.executedPlan.toString should not include "Exchange"
  }
}
