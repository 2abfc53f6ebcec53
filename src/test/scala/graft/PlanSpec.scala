package graft

/** Plan-shape assertions: the registered queries must produce the plans
  * we would want at 100 TB — filters/projections pushed into the parquet
  * scan, small dims broadcast, codegen in the hot path. These guard
  * against regressions that correctness checks cannot see.
  */
class PlanSpec extends SparkSpec {

  /** Full formatted explain (the plan toString truncates long fields
    * like PushedFilters at 100 chars), restricted to the AQE FINAL
    * plan: the "Initial Plan" section renders the pre-adaptive plan,
    * whose operator set can legitimately differ (SMJ->BHJ conversion,
    * coalesced exchanges) — counting both and halving would mis-count
    * exactly the plans AQE improved. The per-operator detail blocks
    * (PushedFilters, codegen ids, partitioning arguments) print AFTER
    * the initial tree and are keyed by operator id, so keep the final
    * tree plus only the detail blocks the final tree references. */
  private def formattedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, SfDir)
    df.collect() // materialize so AQE finalizes the plan (codegen ids appear)
    val full = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val initIdx = full.indexOf("== Initial Plan ==")
    if (initIdx < 0) full
    else {
      val head = full.substring(0, initIdx)
      val finalIds =
        "\\((\\d+)\\)".r.findAllMatchIn(head).map(_.group(1)).toSet
      val rest = full.substring(initIdx)
      "(?m)^\\(\\d+\\) ".r.findFirstMatchIn(rest) match {
        case None => head
        case Some(m) =>
          val details = rest.substring(m.start).split("\n\n")
          head + "\n" + details.filter { b =>
            "^\\((\\d+)\\)".r.findFirstMatchIn(b)
              .forall(mm => finalIds(mm.group(1)))
          }.mkString("\n\n")
      }
    }
  }

  test("q02 filter+project pushes predicates and prunes columns at the scan") {
    val plan = formattedPlan("q02_filter_project")
    plan should include("PushedFilters: [")
    plan should include("LessThan(l_shipdate")
    plan should include("GreaterThan(l_quantity")
    // pruned read schema: only the 5 referenced columns, not all 16
    plan should include("l_orderkey")
    plan should not include "l_suppkey"
  }

  test("q03 join broadcasts the small customer side") {
    val plan = formattedPlan("q03_join_agg")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("q01 aggregate runs partial+final hash aggregation with codegen") {
    val plan = formattedPlan("q01_pricing_summary")
    plan should include("HashAggregate")
    plan should include("[codegen id :") // whole-stage codegen spans present
  }

  test("q32 as-of join runs on a single key shuffle with no join operator") {
    val plan = formattedPlan("q32_asof_join")
    // union-tag + carry-forward: the as-of core must not plan a join
    // (the final presentation orderBy is the only other exchange)
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("Window")
    // exactly one hash-partitioning exchange (user_id) + the
    // rangepartitioning for the output sort
    "hashpartitioning".r.findAllIn(plan).size shouldBe 1
    // and all carried payloads ride ONE Window operator (one sorted pass)
    "\\(\\d+\\) Window".r.findAllIn(plan).size shouldBe 1
  }

  test("d08 incremental LSH broadcasts the delta bucket side") {
    val plan = formattedPlan("d08_incremental_lsh")
    // the index bucket scan must join the (small) delta via broadcast,
    // never sort-merge — that exchange is what makes ingest-time dedup
    // O(index + delta) instead of a full shuffle of the index
    plan should include("BroadcastHashJoin")
    // t19-style map-side agg elsewhere; the only sort-merge joins
    // allowed are the final signature lookups keyed by candidate id
    "SortMergeJoin".r.findAllIn(plan).size should be <= 2
  }

  test("q41 sessionize plans both window passes on one key shuffle") {
    val plan = formattedPlan("q41_sessionize")
    // lag + running sum share the (user_id | ts_s, event_id) sort, so
    // Catalyst must fuse them into window passes over a single
    // hashpartitioning exchange (plus the output sort's range exchange)
    plan should not include "SortMergeJoin"
    "hashpartitioning\\(user_id".r.findAllIn(plan).size shouldBe 1
  }

  test("q42 range join plans an equi join on the bin, not a nested loop") {
    val plan = formattedPlan("q42_interval_overlap")
    // the grid bucketing turns the inequality-only join into an equi
    // hash join keyed on __bin with the range predicate residual
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan should include("Join")
  }

  test("st05 session windows aggregate without a global window operator") {
    val plan = formattedPlan("st05_session_window")
    // session merge happens inside the sort-based session aggregate,
    // partitioned by user — not a single-partition global window
    plan should not include "SinglePartition"
    plan should include("HashAggregate")
  }

  test("t07 repetition metrics stay as explode + hash aggregation") {
    val plan = formattedPlan("t07_repetition")
    plan should include("Generate") // the explodes
    plan should include("HashAggregate")
    plan should not include "CartesianProduct"
  }

  test("p17 as-of gold broadcasts only the metric mapping, never history") {
    val plan = formattedPlan("p17_gold_asof")
    // exactly one broadcast join (the small mapping dim); the history
    // resolution is the shuffled as-of window — the plan that holds
    // when the history dim outgrows a broadcast
    "\\(\\d+\\) BroadcastHashJoin".r.findAllIn(plan).size shouldBe 1
    plan should not include "SortMergeJoin"
    plan should include("Window")
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("k10 bucketed join and aggregate run with zero hash exchanges") {
    val plan = formattedPlan("k10_bucketed_join")
    // both sides are 8-bucket tables on the join key: the sort-merge
    // join AND the per-customer aggregate must reuse the bucket
    // partitioning — the only exchange left is the presentation sort's
    // rangepartitioning. This is the write-once/join-forever layout
    // that removes the fact-dim shuffle at 100 TB.
    plan should include("SortMergeJoin")
    plan should not include "hashpartitioning"
    plan should include("Bucketed: true")
  }

  test("d11 sized-LSH candidates join on bucket keys, never a nested loop") {
    val plan = formattedPlan("d11_cosine_lsh_sized")
    // the scale path's whole point: candidate generation must stay a
    // bucket-key equi join (hash/sort-merge by data size), with the
    // only cross-shaped operators being none at all
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("st09/st10 streaming state queries plan no joins and minimal exchanges") {
    for (name <- Seq("st09_stream_trending", "st10_stream_state_track")) {
      val plan = formattedPlan(name)
      // post-stream analysis is a pure keyed aggregation chain: one
      // hash exchange for the groupBy plus the presentation sort — a
      // join here would mean state tracking re-reads its own output
      plan should not include "Join"
      "Exchange".r.findAllIn(plan).size should be <= 2
    }
  }

  test("q55/q56 event analytics aggregate without cross-shaped joins") {
    for (name <- Seq("q55_markov_transitions", "q56_outliers")) {
      val plan = formattedPlan(name)
      plan should not include "BroadcastNestedLoopJoin"
      plan should not include "CartesianProduct"
      plan should not include "SortMergeJoin" // stats sides stay broadcast
    }
  }

  test("every registered query has a non-empty schema and distinct columns") {
    // queries allowed a cross join: the two LABELED exact all-pairs
    // baselines, and the bounded |corpus| x 16 centroid-assignment
    // passes of the IVF family — everything else must plan key joins
    val crossAllowed = Set("s01_ann_brute", "d05_cosine_neardup",
      "s03_ann_ivf", "s04_ann_ivf_upsert", "s06_stream_index_update",
      "s07_semantic_dedup", // same bounded 16-centroid assignment pass
      "s08_ann_ivfpq", // bounded centroid + 32-row codebook passes
      "s09_ann_recall", // embeds the s01 exact baseline it measures against
      "t23_bm25", // broadcasts a 1-ROW global-stats side (N, avgdl)
      "t24_lm_perplexity", // broadcasts a 1-ROW vocab-size side (V)
      "s10_hybrid_rrf", // embeds the s01 exact dense leg + t23's 1-row stats
      "q51_pagerank", // broadcasts a 1-ROW node-count side (N) per round
      "q52_funnel", // joins 1-ROW step counts for the ppm ratios
      "q53_triangles", // joins four 1-ROW graph-stat aggregates
      "s13_matryoshka_recall", // embeds TWO s01-style exact baselines (the measuring instrument)
      "t29_temperature_mix", // broadcasts a 1-ROW share normalizer (z)
      "s14_ivf_nprobe_sweep", // embeds the s01 exact baseline + a broadcast 3-ROW sweep axis
      "s15_topic_balance", // the bounded 16-centroid assignment pass + a 1-ROW token-total side
      "t34_dsir_resample", // broadcasts a 1-ROW weight-sum normalizer (t29's zRow shape)
      "s16_embedding_outliers", // the bounded 16-centroid assignment pass + a 16-ROW stats side
      "s17_outlier_sweep", // same cohesion pass + a broadcast 3-ROW factor axis
      "t35_classifier_train") // 64-row trained weights x a 1-ROW accuracy aggregate
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, SfDir)
      withClue(s"$name: ") {
        df.columns.length should be > 0
        df.columns.map(_.toLowerCase).distinct.length shouldBe df.columns.length
        if (!crossAllowed(name)) {
          // the anti-pattern sweep: an unkeyed join sneaking into any
          // query would blow up quadratically at 100 TB
          df.queryExecution.optimizedPlan.toString should not include
            "Join Cross"
        }
      }
    }
  }

  test("p19 cascade reuses the cached hour partials for coarser grains") {
    val plan = formattedPlan("p19_rollup_cascade")
    // the day and month branches must read the hour partials from
    // cache, not re-derive them from gold: >= 2 cache scans, and only
    // ONE events parquet scan inside the cached subtree
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 2
  }

  test("q58 cube expands grouping sets once, no join anywhere") {
    val plan = formattedPlan("q58_cube")
    "(?m)^\\(\\d+\\) Expand".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
  }

  test("p21 maintain-then-join keeps p17's as-of shape: history is never broadcast") {
    // the dim is BUILT by the SCD2 fold inside the query, then gold
    // resolves against it — the composition must not regress to a
    // broadcast of the (at scale, unbounded) history or a nested loop
    val plan = formattedPlan("p21_scd2_asof_gold")
    "\\(\\d+\\) BroadcastHashJoin".r.findAllIn(plan).size shouldBe 1
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("Window") // the shuffled as-of carry + SCD2 fold
  }

  test("t23 BM25 ranks via bounded heaps — zero windows in the plan") {
    val df = SparkEntry.queries("t23_bm25")(spark, SfDir)
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    } shouldBe empty
    val plan = formattedPlan("t23_bm25")
    plan should include ("partial_topk")
  }

  test("s10 hybrid RRF: the only window left is the labeled dense exact baseline") {
    // term selection, the lexical top-10 and the fused top-5 are all
    // TopKAgg heaps; the one remaining window is bruteForceTopK on the
    // dense leg — the intentionally-quadratic exact baseline (its
    // labeled status is pinned in Ann.scala; do not convert it)
    val df = SparkEntry.queries("s10_hybrid_rrf")(spark, SfDir)
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.size shouldBe 1
    val plan = formattedPlan("s10_hybrid_rrf")
    plan should include ("partial_topk")
  }

  test("t28 corpus build: no single-partition exchange, no cartesian") {
    // the composition must not reintroduce the scale-killers its
    // stages individually avoid: the shuffle rank is RangeRank (range
    // exchange), the packing window partitions by shard, and every
    // stage joins on doc_id/shingle keys
    val plan = formattedPlan("t28_corpus_build")
    plan should not include "SinglePartition"
    plan should not include "CartesianProduct"
  }

  test("m05 media near-dup: banded candidates, never a cross join") {
    val plan = formattedPlan("m05_media_neardup")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoop"
  }

  test("LSH candidate plans count bucket occupancy by aggregation — zero Window nodes") {
    // Buckets.cap and hashBandPairsManaged must never count occupancy with
    // count(..).over(Window.partitionBy(bucket)): that buffers the
    // mega-bucket the cap exists to kill through ONE WindowExec task
    // before the filter drops it. groupBy+join keeps the hot key in
    // map-side partial aggregation. One shared fix — assert it holds
    // across every LSH operator that routes through the cap machinery.
    for (name <- Seq("d03_minhash_lsh", "d04_simhash",
        "d06_cosine_neardup_lsh", "d08_incremental_lsh",
        "d11_cosine_lsh_sized", "m05_media_neardup", "s02_ann_lsh")) {
      val df = SparkEntry.queries(name)(spark, SfDir)
      withClue(s"$name: ") {
        df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        } shouldBe empty
      }
    }
  }

  test("t31 classifier gate scores shuffle-free: scan -> filter, zero exchanges") {
    // the weight vector rides as a plan reference object, never a join:
    // the gate must stay a pure map over the scan at any corpus size
    // (the registered query only adds the presentation sort on top)
    val df = graft.text.QualityClassifier.gate(
      graft.sources.Tables.documents(spark, SfDir))
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    plan should not include "Exchange"
    plan should not include "Join"
    // formatted mode renders whole-stage codegen as "[codegen id : N]"
    // per operator (not a WholeStageCodegen node line)
    plan should include("[codegen id :")
  }

  test("d15 quality keep selects per-cluster argmax with zero windows") {
    // the keep decision is max(struct(score,-id)) per cluster key — a
    // partial-aggregable combiner, so a mega-cluster never funnels
    // through one sorted window partition
    val plan = formattedPlan("d15_quality_keep")
    plan should not include "WindowExec"
    "Window\\b".r.findAllIn(plan).size shouldBe 0
  }

  test("t34 DSIR resample: ratio table rides as a literal, weight scan " +
      "joins nothing but the 1-row normalizer, zero windows") {
    // the per-bucket ratio table is a bounded Dim-row driver collect
    // inlined as a plan reference object — the scoring scan must stay
    // a pure map: no ratio-table join, no window, no sort-merge; the
    // only join is the broadcast of the 1-row Σw normalizer
    val plan = formattedPlan("t34_dsir_resample")
    "Window\\b".r.findAllIn(plan).size shouldBe 0
    plan should not include "SortMergeJoin"
    "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).size shouldBe 1
    plan should include("[codegen id :") // weight kernel stays codegen'd
  }

  test("t39 LM quality scoring is a pure map-side scan: ratio tables " +
      "ride as plan reference objects — zero joins, windows, exchanges " +
      "beyond the presentation sort") {
    // the CCNet-class filter must stay scan-bound at 100 TB: the fit
    // is a bounded construction-time collect, and the scoring plan
    // carries the LM as reference objects — never a ratio-table join
    val df = graft.text.LmQuality.scored(
      graft.sources.Tables.documents(spark, SfDir),
      org.apache.spark.sql.functions.col("source").isin("src0", "src1"))
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    plan should not include "Join"
    "Window\\b".r.findAllIn(plan).size shouldBe 0
    plan should not include "Exchange"
    plan should include("[codegen id :") // product kernels stay codegen'd
  }

  test("t40 quality ensemble fuses all three gates into ONE map-side " +
      "scan: zero joins, windows, exchanges") {
    // the composed three-signal tier must not cost more plan than any
    // single gate: heuristic + classifier + LM products are all
    // projection expressions over the same scan
    import org.apache.spark.sql.functions.col
    import graft.text.{LmQuality, QualityClassifier}
    val df = LmQuality.scored(
        graft.sources.Tables.documents(spark, SfDir),
        col("source").isin("src0", "src1"))
      .select(col("doc_id"),
        graft.text.TextFns.qualityScore(col("text")).as("quality"),
        QualityClassifier.score(col("text")).as("score"),
        col("lm_bucket"))
      .withColumn("votes",
        (col("quality") >= 0.5).cast("long") +
          (col("score") > QualityClassifier.Threshold).cast("long") +
          (col("lm_bucket") === "head").cast("long"))
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    plan should not include "Join"
    "Window\\b".r.findAllIn(plan).size shouldBe 0
    plan should not include "Exchange"
  }

  test("t41 tier mixing keeps the gated output scan join-free: rates " +
      "ride as literals from the bounded driver fold, never a join") {
    // the waterfall rates come from one <= 4-row collect at
    // construction time (the eager-constructor contract), so the KEEP
    // plan must be the t40 ensemble projection + a filter + the
    // output sort — a rate TABLE join (or a window) would re-shuffle
    // the corpus for 4 numbers.
    val plan = formattedPlan("t41_tier_mixing")
    plan should not include "Join"
    "Window\\b".r.findAllIn(plan).size shouldBe 0
  }

  test("st22 per-batch HLL sketch keeps a map-side partial max: the " +
      "shuffle carries <= |types|*256 combiner cells, never raw events") {
    // the property that bounds streaming distinct-count state at any
    // batch size — if the partial agg ever disappeared, every event
    // row would cross the wire per batch
    import org.apache.spark.sql.functions.col
    val sk = graft.functions.Hll.sketch(
      graft.sources.Tables.events(spark, SfDir), Seq("event_type"),
      col("user_id"))
    sk.collect()
    val plan = sk.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    plan should include("partial_max")
    plan should not include "Join"
    "Window\\b".r.findAllIn(plan).size shouldBe 0
  }

  test("t29 temperature mix broadcasts the per-source rate table") {
    val plan = formattedPlan("t29_temperature_mix")
    plan should include ("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("flagship entry returns rows") {
    SparkEntry.entry(spark).count() should be > 0L
  }
}
