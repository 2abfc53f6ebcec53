package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.TextQueries
import graft.sources.Tables
import graft.text.{Dedup, TextFns}

/** The COMPOSED front door — the first thing a new user of this
  * library runs: one main wiring the production curation arc over a
  * data directory, reusing the registered operators verbatim:
  *
  *   ingest dedup (t11's exact-fingerprint keeper + d07/d13's
  *     near-dup clusters with canonical keep)
  *   → quality ensemble (t40's fused three-signal vote → tier)
  *   → tier-aware mixing (t41's BIGINT ppm budget waterfall, via the
  *     Managed pair — the cache is released deterministically)
  *   → leakage-safe split (t26's whole-cluster hash gate: near-dup
  *     clusters never straddle train/val)
  *   → shard manifest (t28's shared tail: RangeRank shuffle, 64-doc
  *     shards, 2048-token packing)
  *
  * Every stage is the SAME code path the correctness gate verifies
  * query-by-query (tierMixManaged, shardManifest, splitAssign,
  * ngramJaccardPairs + ConnectedComponents); this main certifies the
  * column contracts chain into one pipeline and enforces the
  * cross-stage invariants in CI fashion — any breach exits nonzero:
  *
  *  1. every stage is non-empty;
  *  2. monotone containment: docs ≥ exact-kept ≥ cluster-kept ≥
  *     mixed-kept ≥ train;
  *  3. the manifest accounts for EXACTLY the train docs
  *     (Σ n_docs = |train|), every non-final shard holds 64 docs, and
  *     the pos ranges tile [1, |train|] contiguously;
  *  4. the registered t28 composition on the same directory is green
  *     (rows > 0) and its train set is contained in this pipeline's
  *     stage-1 exact-keeper count (t28 adds quality + decontamination
  *     gates, so it can only keep fewer).
  *
  * Run: `sbt "runMain graft.CurationPipeline [dir] [outDir]
  * [shardSize]"` (dir defaults to /root/testdata/sf0.001 — the CI
  * smoke the verify skill wires in; shardSize DEFAULTS TO DERIVED
  * from the train-set count — [[TextQueries.derivedShardSize]] keeps
  * the shard COUNT in O(1..10^5), because 64-doc shards at web scale
  * mean tens of millions of partition directories, a
  * filesystem-metadata bug; pass an explicit value — t28's pinned
  * 64, say — to override). With `outDir`, the curated corpus itself is WRITTEN —
  * `outDir/shards` partitioned by shard (a data-loader prunes to one
  * shard at the parquet-scan level) plus `outDir/manifest` — then
  * re-read and reconciled against the manifest, so "written" is
  * checked to mean "loadable".
  *
  * STREAMING mode: `sbt "runMain graft.CurationPipeline --stream
  * [dir]"` drives the arrival-time twin instead — the st25
  * composition ([[graft.streaming.StreamingCuratedCorpus]]: drift
  * gate → quarantine routing → incremental corpus build on one
  * store-root), release cut from accumulated state, the same
  * invariant discipline plus published-manifest == batch-reference.
  */
object CurationPipeline {

  /** The arc as a library call: documents frame → (manifest, curated
    * corpus with shard assignments — doc_id, n_tok, pos, shard, text —
    * per-stage counts, the EFFECTIVE shard size, release). The caller
    * releases after materializing. `shardSize` None (the default)
    * derives a scale-safe size from the train-set count
    * ([[TextQueries.derivedShardSize]]: shard count capped at 10^5);
    * pass Some(64) for t28's pinned testdata shape. */
  def runArc(docs: DataFrame, shardSize: Option[Int] = None)
      : (DataFrame, DataFrame, Seq[(String, Long)], Int, () => Unit) = {
    // 1. ingest dedup — exact fingerprint keeper (t11's rule) …
    // the keeper-id frame is persisted (one id column): the
    // fingerprint aggregation is a corpus scan feeding both the
    // exact_kept count and the pair-generation leg
    val keeperIds = docs
      .select(col("doc_id"), TextFns.fingerprintMd5(col("text")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id")
      .persist()
    // everything below runs actions (tierMixManaged's tier fold, the
    // stage counts) before the caller receives the release — a failure
    // mid-arc must drop the id caches here or they leak for the
    // session (the documented library-caller path, not just the main)
    var keptIdsOpt: Option[DataFrame] = None
    var releaseTiersOpt: Option[() => Unit] = None
    try {
      val exactKept = docs.join(keeperIds, Seq("doc_id"), "left_semi")
      // … + near-dup clusters, canonical keep (d07/d13's rule); the
      // labels double as t26's whole-cluster split keys below.
      // keptIds is PERSISTED: the pair-generation + connected-components
      // subtree above it feeds every downstream leg (tier scan, split,
      // manifest, the written corpus) and would otherwise recompute per
      // consumer — the cache holds two id columns, never the text.
      val labels = graft.operators.ConnectedComponents.run(
          Dedup.ngramJaccardPairs(exactKept, maxDF = 50, minJaccard = 0.8))
        .withColumnRenamed("node", "doc_id")
      val keptIds = exactKept.select("doc_id")
        .join(labels, Seq("doc_id"), "left")
        .filter(col("label").isNull || col("doc_id") === col("label"))
        .persist()
      keptIdsOpt = Some(keptIds)
      val kept = docs.join(keptIds.select("doc_id"), Seq("doc_id"),
        "left_semi")
      // 2+3. quality ensemble over the survivors → tier-aware mixing
      // (t40 → t41, the Managed pair); release composes both caches
      val (mixed, releaseTiers) =
        TextQueries.tierMixManaged(TextQueries.ensembleTiers(kept))
      releaseTiersOpt = Some(releaseTiers)
      val release = () => {
        releaseTiers(); keptIds.unpersist(); keeperIds.unpersist(); ()
      }
      // 4. leakage-safe split (t26): the cluster id is the split key, so
      // a near-dup pair can never straddle train/val
      val train = mixed
        .join(keptIds, "doc_id")
        .withColumn("split_key", coalesce(col("label"), col("doc_id")))
        .filter(TextFns.splitAssign(col("split_key")) === "train")
        .select("doc_id", "n_tok")
      // 5. shard assignments + manifest (t28's shared tail, split so
      // the curated corpus itself can be written partitioned by
      // shard). The DEFAULT shard size derives from the train count —
      // the production path must not ship the documented
      // filesystem-metadata bug (10^7+ shard dirs at web scale); the
      // count below is the same action the counts seq was already
      // paying, hoisted
      val nTrain = train.count()
      val effectiveShardSize =
        shardSize.getOrElse(TextQueries.derivedShardSize(nTrain))
      val assignments =
        TextQueries.shardAssignments(train, effectiveShardSize)
      val manifest = TextQueries.manifestOf(assignments)
      val curated = assignments
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
        .select("doc_id", "n_tok", "pos", "shard", "text")
      val counts = Seq(
        "documents" -> docs.count(),
        "exact_kept" -> keeperIds.count(),
        "cluster_kept" -> keptIds.count(),
        "mixed_kept" -> mixed.count(),
        "train" -> nTrain)
      (manifest, curated, counts, effectiveShardSize, release)
    } catch { case t: Throwable =>
      releaseTiersOpt.foreach(_.apply())
      keptIdsOpt.foreach(_.unpersist())
      keeperIds.unpersist()
      throw t
    }
  }

  def main(args: Array[String]): Unit = {
    val streamMode = args.headOption.contains("--stream")
    val rest = if (streamMode) args.drop(1) else args
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(Sessions.cpus(8))

    val check = new Checks
    if (streamMode) runStream(spark, dir, check)
    else runBatch(spark, dir, rest, check)
    spark.stop()
    if (check.failures.nonEmpty) {
      System.err.println(
        s"[curation] ${check.failures.size} invariant(s) FAILED: " +
          check.failures.mkString(", "))
      sys.exit(1)
    }
    println("[curation] ALL GREEN")
  }

  /** CI-style invariant collector: a failed check prints and records,
    * never throws — the main exits nonzero with the full list. */
  private final class Checks {
    val failures = scala.collection.mutable.ListBuffer[String]()
    def apply(name: String)(ok: => Boolean): Unit =
      if (!ok) {
        failures += name
        System.err.println(s"[curation] FAIL $name")
      } else println(s"[curation] ok   $name")
  }

  /** The manifest shape both modes hold: every shard but the last
    * holds `shardSize` docs, the pos ranges tile [1, nTrain]
    * contiguously, and every shard has at least one pack. */
  private def shardChecks(check: Checks, m: Array[Row], shardSize: Int,
      nTrain: Long): Unit = {
    val shards = m.sortBy(_.getAs[Long]("shard"))
    check("shards_full_except_last")(shards.dropRight(1)
      .forall(_.getAs[Long]("n_docs") == shardSize.toLong))
    val ranges = shards.map(r => (r.getAs[Long]("pos_lo"), r.getAs[Long]("pos_hi")))
    check("pos_ranges_tile")(
      ranges.headOption.forall(_._1 == 1L) &&
        ranges.lastOption.forall(_._2 == nTrain) &&
        ranges.sliding(2).filter(_.length == 2)
          .forall(w => w(0)._2 + 1 == w(1)._1))
    check("packs_positive")(m.forall(_.getAs[Long]("n_packs") >= 1L))
  }

  /** STREAMING front-door mode (round 17): the arrival-time twin of
    * the batch arc — publish the directory as doc_id-mod-4 waves,
    * run the st25 composition (drift gate → quarantine routing →
    * incremental corpus build on one store-root), cut the release
    * from accumulated state, and enforce the batch front door's
    * invariant discipline PLUS published-manifest == batch-reference.
    * The batch mode proves the column contracts chain; this proves
    * the production ingest path end to end — suspect batches visibly
    * quarantined, and the released manifest equal to the one-shot
    * topology over the clean arrivals.
    *
    * Run: `sbt "runMain graft.CurationPipeline --stream [dir]"`. */
  private def runStream(spark: SparkSession, dir: String,
      check: Checks): Unit = {
    import graft.streaming.{DriftGate, StreamingCuratedCorpus, StreamQuarantine}
    // a FRESH store-root per invocation (deliberately local — this
    // main is the local CI smoke): two concurrent runs on a fixed
    // path would interleave writes into one stream's checkpoint
    val root = java.nio.file.Files
      .createTempDirectory("graft-curation-stream").toString
    val docs = Tables.documents(spark, dir)
    val m = StreamingCuratedCorpus.run(spark, docs, root, nSlices = 4)
      .collect()
    val nDocs = docs.count()
    val routed = StreamQuarantine.routed(spark, root)
    val nRouted = routed.count()
    val routedCorpus = routed.filter(col("route") === "corpus").count()
    val gated = spark.read.parquet(s"$root/meta").count()
    val nTrain = m.map(_.getAs[Long]("n_docs")).sum
    val fired = DriftGate.firedBatches(docs, nSlices = 4)
    println(s"[curation] documents=$nDocs routed_corpus=$routedCorpus " +
      s"gated=$gated train=$nTrain fired_batches=" +
      fired.toSeq.sorted.mkString("{", ",", "}"))
    m.foreach(r => println(s"[curation] shard=$r"))
    // 1-2: every stage non-empty, monotone containment down the arc
    check("stages_nonempty")(
      nDocs > 0 && routedCorpus > 0 && gated > 0 && m.nonEmpty)
    check("monotone_containment")(nDocs >= routedCorpus &&
      routedCorpus >= gated && gated >= nTrain)
    // 3: routing is COMPLETE (every arrival routed exactly once) and
    // the quarantined batch set is exactly the fired set
    check("routed_complete")(nRouted == nDocs)
    check("quarantine_matches_fired")(
      routed.filter(col("route") === "quarantine")
        .select("batch").distinct().collect()
        .map(_.getLong(0)).toSet == fired)
    // 4-6: the manifest discipline of the batch mode. The publish ran
    // with the DERIVED scale-safe shard size (the production default,
    // round 17) — recompute the same deterministic derivation from the
    // train count and hold the manifest to it
    val expectShard = graft.queries.TextQueries.derivedShardSize(nTrain)
    println(s"[curation] shard_size=$expectShard (derived)")
    // n_docs == its pos range, per shard — counts and ranges computed
    // consistently (the batch mode's train-count tie is check 8 here:
    // manifest == batch-reference, an INDEPENDENT recomputation; a
    // sum-vs-nTrain check would be a tautology, nTrain IS that sum)
    check("manifest_accounts_train")(m.forall(r =>
      r.getAs[Long]("n_docs") ==
        r.getAs[Long]("pos_hi") - r.getAs[Long]("pos_lo") + 1L))
    shardChecks(check, m, expectShard, nTrain)
    // 7: the released manifest EQUALS the one-shot batch topology
    // over the non-fired arrivals — the st25 contract, enforced here
    // on the driver's own data directory
    check("manifest_equals_batch_reference")(
      m.map(_.toSeq).toSeq == StreamingCuratedCorpus
        .batchReference(docs, nSlices = 4).collect().map(_.toSeq).toSeq)
    // clean exit reclaims the store-root (repeated CI smokes would
    // otherwise accumulate full document copies in /tmp); a failed
    // invariant KEEPS it — the debuggable artifact — and says where
    if (check.failures.isEmpty) Dirs.deleteTree(java.nio.file.Paths.get(root))
    else println(s"[curation] store-root kept for debugging: $root")
  }

  private def runBatch(spark: SparkSession, dir: String,
      args: Array[String], check: Checks): Unit = {
    // optional 3rd arg: explicit shard size (t28's pinned 64, say);
    // DEFAULT derives from the train count so the shard count stays
    // O(1..10^5) at any scale — the scale-safe behavior is no longer
    // advice in a doc comment, it is what runs when you pass nothing
    val (manifest, curated, counts, shardSize, release) =
      runArc(Tables.documents(spark, dir), args.lift(2).map(_.toInt))
    println(s"[curation] shard_size=$shardSize" +
      (if (args.lift(2).isEmpty) " (derived)" else " (explicit)"))
    try {
      val m = manifest.collect()
      counts.foreach { case (k, v) => println(s"[curation] $k=$v") }
      m.foreach(r => println(s"[curation] shard=$r"))
      val byName = counts.toMap
      // 1. every stage non-empty
      check("stages_nonempty")(counts.forall(_._2 > 0) && m.nonEmpty)
      // 2. monotone containment down the arc
      check("monotone_containment")(
        counts.map(_._2).sliding(2).forall(w => w(0) >= w(1)))
      // 3. the manifest accounts for exactly the train docs, in
      // 64-doc shards tiling [1, train] contiguously
      val nTrain = byName("train")
      check("manifest_accounts_train")(
        m.map(_.getAs[Long]("n_docs")).sum == nTrain)
      shardChecks(check, m, shardSize, nTrain)
      // 4. the registered t28 composition it reuses is green on the
      // same directory, and containment holds: t28 gates harder
      // (quality threshold + decontamination), so its manifest can
      // only account for fewer docs than our stage-1 keeper set
      val t28 = SparkEntry.queries("t28_corpus_build")(spark, dir).collect()
      check("t28_green")(t28.nonEmpty)
      check("t28_contained_in_exact_kept")(
        t28.map(_.getAs[Long]("n_docs")).sum <= byName("exact_kept"))
      // optional 2nd arg: WRITE the curated artifact — the sharded
      // corpus (partition-pruned reads per shard) plus its manifest —
      // then re-read and reconcile, so "written" means "loadable"
      args.lift(1).foreach { out =>
        curated.write.mode("overwrite").partitionBy("shard")
          .parquet(s"$out/shards")
        manifest.coalesce(1).write.mode("overwrite")
          .parquet(s"$out/manifest")
        val back = spark.read.parquet(s"$out/shards")
        check("written_shards_reconcile")(back.count() == nTrain &&
          back.groupBy("shard").count().count() == m.length.toLong)
        println(s"[curation] wrote $out/shards + $out/manifest")
      }
    } finally release()
  }
}
