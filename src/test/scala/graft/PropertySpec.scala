package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.sinks.KeyedUpsert
import graft.text.Dedup

/** Property tests (ScalaCheck): randomized sequences checked against
  * simple in-memory models. Iteration counts are modest because each
  * case runs real Spark jobs.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(n).withWorkers(1), prop)
    withClue(res.status.toString)(res.passed shouldBe true)
  }

  test("KeyedUpsert equals the in-memory last-writer-wins map model") {
    val batchGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0, 9).map(k => s"k$k"), Gen.choose(0, 1000)))
    val seqGen = Gen.listOfN(3, batchGen)
    val prop = Prop.forAll(seqGen) { batches =>
      val dir = tmp("prop")
      val model = scala.collection.mutable.Map[String, Int]()
      batches.foreach { batch =>
        // model: within a batch the max value per key wins (tieBreak)
        batch.groupBy(_._1).foreach { case (k, vs) =>
          model(k) = vs.map(_._2).max
        }
        KeyedUpsert.upsert(spark, dir, batch.toDF("k", "v"),
          Seq("k"), numBuckets = 4, tieBreak = Some("v"))
      }
      val actual = KeyedUpsert.read(spark, dir)
        .as[(String, Int)].collect().toMap
      actual == model.toMap
    }
    check(prop, 8)
  }

  test("rollup sums always reconcile with direct sums over random data") {
    val rowGen = Gen.zip(
      Gen.choose(1704067200L, 1704067200L + 86400 * 30),
      Gen.choose(1, 3), Gen.choose(-50.0, 150.0))
    val dataGen = Gen.listOfN(60, rowGen)
    val prop = Prop.forAll(dataGen) { rows =>
      val gold = rows.zipWithIndex.map { case ((ts, prov, v), i) =>
        (i.toString, ts, "2024-01-01", "m",
          BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP),
          null.asInstanceOf[String], 9001L, prov.toLong, 1L, s"R${i % 5}", "SUM")
      }.toDF("element", "unix_timestamp", "datestamp", "metric",
        "value_double", "value_string", "metric_id", "provider_id",
        "category_id", "remote_id", "agg_type")
        .withColumn("value_double",
          col("value_double").cast("decimal(30,15)"))
      val rolled = graft.pipeline.Medallion.hourRollup(gold)
      val direct = gold.filter(col("value_double") =!= 0)
        .agg(sum("value_double").cast("double")).head.getDouble(0)
      val viaRollup = rolled.agg(sum("sum_value")).head match {
        case r if r.isNullAt(0) => 0.0
        case r => r.getDouble(0)
      }
      math.abs(viaRollup - direct) < 1e-6
    }
    check(prop, 8)
  }

  test("minhash agreement is exact 1.0 for identical docs, lower otherwise") {
    val wordGen = Gen.listOfN(12,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta"))
    val prop = Prop.forAll(Gen.zip(wordGen, wordGen)) { case (w1, w2) =>
      val docs = Seq((1L, w1.mkString(" ")), (2L, w1.mkString(" ")),
        (3L, w2.mkString(" "))).toDF("doc_id", "text")
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", k = 8, n = 3)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      // identical docs -> identical signatures, always
      sigs(1L) == sigs(2L)
    }
    check(prop, 10)
  }

  test("as-of join equals the brute-force latest-at-or-before model") {
    val leftGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0, 3).map(k => s"k$k"), Gen.choose(0L, 50L)))
    val rightGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0, 3).map(k => s"k$k"), Gen.choose(0L, 50L),
      Gen.choose(0L, 999L)))
    val prop = Prop.forAll(leftGen, rightGen) { (ls, rs) =>
      val left = ls.zipWithIndex
        .map { case ((k, ts), i) => (i.toLong, k, ts) }
        .toDF("lid", "k", "ts")
      val right = rs.map { case (k, ts, pay) => (k, ts, pay) }
        .toDF("k", "rts", "pay")
      val got = graft.operators.AsOfJoin.joinAsOf(left, right,
          "k", "ts", "rts", Seq("pay"), tieBreak = Seq("pay"))
        .select("lid", "pay").as[(Long, Option[Long])].collect().toMap
      // model: per left row, the max-(rts, pay) right row with rts <= ts
      val model = ls.zipWithIndex.map { case ((k, ts), i) =>
        val cands = rs.filter(r => r._1 == k && r._2 <= ts)
        i.toLong -> (if (cands.isEmpty) None
          else Some(cands.maxBy(r => (r._2, r._3))._3))
      }.toMap
      got == model
    }
    check(prop, 15)
  }

  test("range join equals the brute-force inequality join model") {
    val ptGen = Gen.nonEmptyListOf(Gen.choose(0L, 200L))
    val ivGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 200L), Gen.choose(-10L, 60L)))
    val prop = Prop.forAll(ptGen, ivGen) { (ps, ivs) =>
      val points = ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("pid", "pt")
      // len <= 0 makes some intervals empty on purpose
      val intervals = ivs.zipWithIndex
        .map { case ((lo, len), i) => (i.toLong, lo, lo + len) }
        .toDF("ivid", "lo", "hi")
      val got = graft.operators.RangeJoin
        .pointInInterval(points, intervals, "pt", "lo", "hi", binSize = 16L)
        .select("pid", "ivid").as[(Long, Long)].collect().toSet
      val model = (for {
        (p, i) <- ps.zipWithIndex
        ((lo, len), j) <- ivs.zipWithIndex
        if p >= lo && p < lo + len
      } yield (i.toLong, j.toLong)).toSet
      got == model
    }
    check(prop, 15)
  }

  test("connected components equals the union-find model on random graphs") {
    val edgeGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
    val prop = Prop.forAll(edgeGen) { edges =>
      val got = graft.operators.ConnectedComponents
        .run(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      // model: classic union-find, components labeled by their min node
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      // pure self-loops carry no connectivity: the operator drops them
      // ("isolated documents do not appear"), so the model must too
      edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val model = parent.keys.map(n => n -> find(n)).toMap
      got == model
    }
    check(prop, 10)
  }

  test("sessionize equals the sorted-scan gap model") {
    val rowGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0, 2).map(k => s"k$k"), Gen.choose(0L, 300L)))
    val prop = Prop.forAll(rowGen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((k, ts), i) => (i.toLong, k, ts) }
        .toDF("id", "k", "ts")
      val got = graft.operators.Sessionize
        .sessionize(df, Seq("k"), "ts", gap = 30L, orderCols = Seq("id"))
        .select("id", "session_seq").as[(Long, Long)].collect().toMap
      // model: per key, sort by (ts, id) and count gaps > 30
      val model = rows.zipWithIndex.groupBy(_._1._1).flatMap {
        case (_, g) =>
          val sorted = g.map { case ((_, ts), i) => (ts, i.toLong) }.sorted
          var seq = 0L
          var prev = Long.MinValue
          sorted.map { case (ts, id) =>
            if (prev == Long.MinValue || ts - prev > 30L) seq += 1
            prev = ts
            id -> seq
          }
      }
      got == model
    }
    check(prop, 15)
  }

  test("tier waterfall never overspends, respects caps, and leaves no " +
      "budget on the table while a tier is damped") {
    import graft.queries.TextQueries
    val tokGen = Gen.choose(0L, 30000L)
    val gen = Gen.zip(tokGen, tokGen, tokGen, Gen.choose(0L, 40000L))
    val prop = Prop.forAll(gen) { case (tp, ts, tm, budgetTok) =>
      val b = budgetTok * 1000000L
      val tok = Map("premium" -> tp, "standard" -> ts, "marginal" -> tm)
      val r = TextQueries.tierWaterfall(tok, b)
      val spent = tp * r("premium") + ts * r("standard") + tm * r("marginal")
      val rem2 = b - tp * r("premium") - ts * r("standard")
      val inRange = r.values.forall(v => v >= 0L && v <= 1000000L)
      val clamped = r("marginal") <= 250000L && r("reject") == 0L
      val noOverspend = spent <= b
      // priority: premium's rate is independent of the lower tiers
      val premiumFirst = r("premium") ==
        TextQueries.tierWaterfall(Map("premium" -> tp), b)("premium")
      // no waste: a DAMPED tier (rate below its cap) means the budget
      // above it was consumed down to less than one of its tokens —
      // the waterfall never damps while budget that tier could spend
      // remains
      val standardTight = r("standard") == 1000000L || ts == 0L ||
        rem2 < ts
      val marginalTight = r("marginal") == 250000L || tm == 0L ||
        (rem2 - tm * r("marginal")) < tm
      inRange && clamped && noOverspend && premiumFirst &&
        standardTight && marginalTight
    }
    check(prop, 40)
  }

  test("promotion fold equals the driver champion/challenger model " +
      "on random corpora") {
    import graft.streaming.StreamPromote
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "omega",
      "sigma", "kappa", "zeta", "theta", "lambda", "the", "und")
    val shortGen = Gen.zip(Gen.choose(1, 5), Gen.oneOf("en", "de"))
      .flatMap { case (n, l) =>
        Gen.listOfN(n, wordGen).map(ws => (ws.mkString(" "), l)) }
    // occasional LONG docs shift the token-length drift axis, so some
    // random slicings fire (challenger evaluated) and some don't
    val longGen = Gen.oneOf("en", "de").map(l => (("stream " * 40).trim, l))
    val docGen = Gen.frequency(4 -> shortGen, 1 -> longGen)
    val corpusGen = Gen.listOfN(24, docGen)
    val prop = Prop.forAll(corpusGen) { docs0 =>
      val docs = docs0.zipWithIndex
        .map { case ((t, l), i) => (i.toLong, t, l) }
      val actual = StreamPromote.batchReference(
        docs.toDF("doc_id", "text", "lang"), nSlices = 3)
      actual == PromoteReference.fold(docs, 3)
    }
    check(prop, 5)
  }

  test("classifier fit equals the driver perceptron on random corpora") {
    import graft.text.ClassifierTrain
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "omega",
      "sigma", "kappa", "zeta", "theta", "lambda", "the", "und")
    val docGen = Gen.zip(
      Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, wordGen))
        .map(_.mkString(" ")),
      Gen.oneOf("en", "de"))
    val corpusGen = Gen.nonEmptyListOf(docGen).map(_.take(25))
    val prop = Prop.forAll(corpusGen) { docs0 =>
      val docs = docs0.zipWithIndex
        .map { case ((t, l), i) => (i.toLong, t, l) }
      val (w, nCorrect, nTotal) =
        PerceptronReference.fit(docs, ClassifierTrain.Iters)
      val rows = ClassifierTrain.train(
          docs.toDF("doc_id", "text", "lang"), $"lang" === "en")
        .as[(Long, Long, Long, Long)].collect().toSeq
      rows == (0 until ClassifierTrain.Dim).map(b =>
        (b.toLong, w(b), nCorrect, nTotal))
    }
    check(prop, 6)
  }
}
