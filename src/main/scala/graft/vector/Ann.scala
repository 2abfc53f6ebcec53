package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    O(|Q|·|C|); fine when the query set is small or as a per-bucket
  *    refinement step.
  *  - [[withLshBuckets]] + [[lshTopK]]: multi-table random-hyperplane
  *    LSH. Each vector hashes into `nTables` independent buckets
  *    (one per table of `planesPerTable` sign bits); candidates are
  *    pairs sharing ANY table's bucket — the OR-construction that keeps
  *    recall high even for weakly-similar neighbors (P[hit] =
  *    1-(1-p^m)^L). At 100 TB this is the shape that works: bucketing
  *    is a map-side scan and the candidate join shuffles on `bucket` —
  *    partition-local work, no cross join anywhere.
  *
  * The hyperplanes are generated by integer arithmetic
  * (`(p*7919 + i*104729 + 12345) % 2001 - 1000) / 1000`), not an RNG,
  * so any engine — the DuckDB oracle included — rebuilds identical
  * buckets from the same formula.
  */
object Ann {

  /** Deterministic hyperplane component w[p][i] in [-0.5, 0.5].
    * Integer arithmetic is evaluated HERE, once, in Scala — the planes
    * are constants, so recomputing them per row (the old
    * `transform(sequence(...))` form) was pure wasted compute on every
    * corpus scan. Java `%` on non-negative ints matches Spark's
    * `Remainder`, so the emitted literals are bit-identical to the
    * per-row formula any oracle replays. */
  private def planeWeight(p: Int, i: Int): Double =
    ((p * 7919 + i * 104729 + 12345) % 2001 - 1000).toDouble / 1000.0

  /** Plane p as a constant array<double> literal of length `dim`. */
  private def planeLit(p: Int, dim: Int): Column =
    array((0 until dim).map(i => lit(planeWeight(p, i))): _*)

  /** [[planeLit]] exposed for CodegenSpec and CodegenAbProbe's
    * per-dot workloads. */
  private[graft] def planeLitPublic(p: Int, dim: Int): Column =
    planeLit(p, dim)

  /** Per-table bucket ids: for table t, the bucket is
    * `t * 2^m + sum_j (v·plane_{t*m+j} > 0) * 2^j` — table index folded
    * into the id so buckets from different tables never collide.
    * One native [[graft.functions.LshBucketHash]] expression loops
    * over the whole precomputed weight matrix at RUNTIME: the previous
    * per-plane [[graft.functions.DotProduct]] composition unrolled
    * 24–88 dot loops into one generated method, blew the JVM
    * huge-method JIT limit, and ran the stage in the bytecode
    * interpreter (37x slower than interpreted mode — BASELINE.md has
    * the measurement). Same left-to-right per-plane summation, so
    * signs — and therefore buckets and every oracle — are unchanged. */
  def lshBuckets(v: Column, dim: Int, planesPerTable: Int, nTables: Int)
      : Column = {
    val weights = Array.tabulate(nTables * planesPerTable * dim) { x =>
      planeWeight(x / dim, x % dim)
    }
    graft.functions.LshBucketHash(v, weights, nTables, planesPerTable, dim)
  }

  /** One row per (vector, table bucket) — map-side, no shuffle. */
  def withLshBuckets(emb: DataFrame, vecCol: String = "embedding",
      dim: Int = 64, planesPerTable: Int = 3, nTables: Int = 8): DataFrame =
    emb.withColumn("bucket",
      explode(lshBuckets(col(vecCol), dim, planesPerTable, nTables)))

  /** Planes per table sized to the corpus: 2^p buckets per table,
    * targeting ~`targetBucketSize` vectors per bucket. The bucket-key
    * join is per-bucket quadratic, so a FIXED plane count degenerates
    * toward all-pairs as the corpus grows — the 10x scale probe
    * (graft.ScaleProbe, BASELINE.md §4) measured a fixed 3 planes
    * (64 total buckets) at 44x wall-clock on a 10x corpus, vs
    * near-linear once planes are sized. Since the planes are
    * precomputed literals, extra planes cost only cheap per-row dots;
    * [[lshTopK]] and [[graft.text.Dedup.cosineNearDupPairsLsh]] derive
    * their plane count from this BY DEFAULT — fixed counts exist only
    * behind explicit Some(...) for labeled contrast rows. */
  def planesFor(corpusSize: Long, targetBucketSize: Int = 250): Int =
    math.max(3, math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetBucketSize)) /
        math.log(2.0)).toInt)

  /** Exact cosine top-k of `corpus` for each row of `queries`
    * (self-matches excluded when ids collide). Deterministic tiebreak
    * on the corpus id. */
  private def normalize(df: DataFrame, idAs: String, vecAs: String,
      idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as("v"))
      .withColumn("nrm", VectorFns.norm(col("v")))
      .select(col(idAs), VectorFns.normalized(col("v"), col("nrm")).as(vecAs))

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // normalize once per vector; each of the |Q|x|C| pairs is one fold
    val q = normalize(queries, "q", "qv", idCol, vecCol)
    val c = normalize(corpus, "b", "bv", idCol, vecCol)
    val w = Window.partitionBy("q").orderBy(col("cos").desc, col("b"))
    q.crossJoin(c).filter(col("q") =!= col("b"))
      .withColumn("cos", VectorFns.dot(col("qv"), col("bv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q"), col("rank"), col("b"), round(col("cos"), 6).as("cos"))
  }

  /** Filtered vector search: exact cosine top-k restricted to corpus
    * rows matching the query row's metadata key(s) — "nearest neighbors
    * in the same language/source/shard". The filter is an equi-JOIN
    * key, NOT a post-filter over unfiltered candidates: both sides
    * shuffle on the key, the pair space is key-co-partitioned, and
    * per-key work is quadratic in that key's population only.
    *
    * Ranking is the bounded-heap [[graft.functions.TopKAgg]], NOT a
    * `row_number` window: a window would shuffle EVERY key-matching
    * candidate of a query into one partition and sort it — on a hot
    * metadata key at 100 TB that is a sort of millions of rows per
    * query. The aggregate keeps a k-heap per query per map task, so
    * the shuffle carries at most k rows per query per task and the
    * final combine merges heaps. Deterministic tiebreak on the corpus
    * id (encoded as the negated id inside the heap struct — ids must
    * be numeric, as everywhere else in this module). */
  def filteredTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      keyCols: Seq[String], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(keyCols.nonEmpty, "filteredTopK: at least one key column")
    def normWith(df: DataFrame, idAs: String, vecAs: String) =
      df.select(col(idCol).as(idAs) +: keyCols.map(col) :+ col(vecCol).as("v"): _*)
        .withColumn("nrm", VectorFns.norm(col("v")))
        .select(col(idAs) +: keyCols.map(col) :+
          VectorFns.normalized(col("v"), col("nrm")).as(vecAs): _*)
    val q = normWith(queries, "q", "qv")
    // heap orders by struct fields ascending; largest kept = (max cos,
    // then max -b = min b) — identical to ORDER BY cos DESC, b ASC
    q.join(normWith(corpus, "b", "bv"), keyCols)
      .filter(col("q") =!= col("b"))
      .withColumn("cos", VectorFns.dot(col("qv"), col("bv")))
      .groupBy(col("q") +: keyCols.map(col): _*)
      .agg(graft.functions.TopKAgg.topK(
        struct(col("cos"), (-col("b")).as("nb")), k).as("top"))
      .select(col("q") +: keyCols.map(col) :+ posexplode(col("top")): _*)
      .select(col("q") +: (col("pos") + 1).cast("int").as("rank") +:
        (-col("col.nb")).as("b") +: keyCols.map(col) :+
        round(col("col.cos"), 6).as("cos"): _*)
  }

  /** Default Lloyd refinement passes for the IVF centroids. */
  val IvfKmeansIters = 2

  /** One nearest-centroid assignment pass: (id, vn, cid). Argmax as a
    * hash aggregation, not a window: the per-id candidate rows collapse
    * map-side (they are partition-local after the broadcast cross
    * join), so only one partial row per vector reaches the shuffle —
    * vs sorting nCentroids x |corpus| rows under a row_number window.
    * Ties resolve identically to the old window (max cos, then min
    * cid, encoded as max(struct(cos, -cid))). */
  private def assignPass(normed: DataFrame, cents: DataFrame): DataFrame =
    normed.crossJoin(broadcast(cents)) // |corpus| x nCentroids
      .withColumn("cos", VectorFns.dot(col("vn"), col("cv")))
      .groupBy("id")
      .agg(first("vn").as("vn"), // constant per id
        max(struct(col("cos"), (-col("cid")).as("nc"))).as("best"))
      .select(col("id"), col("vn"), (-col("best.nc")).as("cid"))

  /** IVF centroids: seeded from the first `nCentroids` corpus vectors,
    * then refined by `iters` deterministic Lloyd passes. The recomputed
    * centroid is the per-dimension sum of member normalized components
    * taken in DECIMAL(30,15) — exact and order-independent, so any
    * engine (the DuckDB oracle included) replays bit-identical
    * centroids regardless of partitioning — normalized back to unit
    * length (cosine is scale-invariant, so the mean's 1/n cancels).
    * Returns (cid, cv) with |cv| = 1. */
  def ivfCentroids(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nCentroids: Int = 16,
      iters: Int = IvfKmeansIters): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val spark = emb.sparkSession
    import spark.implicits._
    // respread + persist: every k-means pass re-reads this frame (the
    // assignment is nCentroids cosines per vector — the fit's heavy
    // map side), and unpersisted it re-scanned + re-normalized the
    // corpus once per iteration; respread because a single-row-group
    // input runs the whole pass one-task (guide §2.5). Persist is
    // released before returning — `cents` is a bounded driver-side
    // table, independent of this frame.
    val normed = graft.functions.Spread.across(
      normalize(emb, "id", "vn", idCol, vecCol)).persist()
    var cents = normalize(
      emb.filter(col(idCol) < nCentroids), "cid", "cv", idCol, vecCol)
    try for (_ <- 0 until iters) {
      val sums = assignPass(normed, cents)
        .select(col("cid"), posexplode(col("vn")))
        .toDF("cid", "pos", "x")
        .groupBy("cid", "pos")
        .agg(sum(col("x").cast(DecimalType(30, 15))).as("s"))
      val next = sums
        .groupBy("cid")
        .agg(collect_list(struct(col("pos"), col("s"))).as("ps"))
        .select(col("cid"),
          transform(array_sort(col("ps")),
            p => p.getField("s").cast("double")).as("cv"))
        .select(col("cid"),
          VectorFns.normalized(col("cv"), VectorFns.norm(col("cv"))).as("cv"))
      // materialize the (<= nCentroids)-row centroid table driver-side:
      // bounded like MLlib's k-means, and it keeps each pass's plan
      // shallow instead of re-deriving every earlier iteration
      cents = next.as[(Long, Seq[Double])].collect().toSeq
        .sortBy(_._1).toDF("cid", "cv")
    } finally normed.unpersist()
    cents
  }

  /** Assignment against FROZEN centroids (cid, cv): the incremental-
    * maintenance path. A delta batch of new vectors joins the index by
    * one broadcast pass against the existing centroid table — no
    * rebuild, no touch of the already-indexed corpus — and because
    * assignment is per-vector independent, (assign base) ∪ (assign
    * delta) is bit-identical to re-assigning base+delta from scratch
    * with the same centroids. At 100 TB this is the difference between
    * an O(|delta|) nightly index update and an O(|corpus|) rebuild.
    * Returns (id, vn, cid). */
  def ivfAssignTo(emb: DataFrame, cents: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignPass(normalize(emb, "id", "vn", idCol, vecCol), cents)

  /** IVF (inverted-file) assignment: every vector goes to its nearest
    * k-means-refined centroid by cosine ([[ivfCentroids]]). Returns
    * (id, vn, cid). */
  def ivfAssign(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nCentroids: Int = 16,
      iters: Int = IvfKmeansIters): DataFrame = {
    val normed = normalize(emb, "id", "vn", idCol, vecCol)
    assignPass(normed, ivfCentroids(emb, idCol, vecCol, nCentroids, iters))
  }

  /** IVF top-k: queries probe their `nProbe` nearest centroid lists,
    * exact cosine ranking within the probed lists. The 100 TB shape:
    * the corpus shuffles once by centroid id; a query touches
    * nProbe/nCentroids of the data. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCentroids: Int = 16, nProbe: Int = 2,
      iters: Int = IvfKmeansIters): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nCentroids, iters)
    val lists = assignPass(normalize(corpus, "id", "vn", idCol, vecCol), cents)
      .select(col("id").as("b"), col("vn").as("bv"), col("cid"))
    val qn = normalize(queries, "q", "qv", idCol, vecCol)
    // probe selection as a heap too: partial rows collapse map-side
    // (the cross join is partition-local), so no Window operator
    // appears anywhere in the ANN plans
    val probes = qn.crossJoin(broadcast(cents))
      .withColumn("ccos", VectorFns.dot(col("qv"), col("cv")))
      .groupBy("q")
      .agg(first("qv").as("qv"), graft.functions.TopKAgg.topK(
        struct(col("ccos"), (-col("cid")).as("nc")), nProbe).as("top"))
      .select(col("q"), col("qv"), explode(col("top")).as("p"))
      .select(col("q"), col("qv"), (-col("p.nc")).as("cid"))
    // bounded-heap ranking (as filteredTopK): a row_number window
    // would sort each query's ENTIRE probed-list candidate set in one
    // partition — nProbe/nCentroids of the corpus per query at scale;
    // the heap ships <= k rows per query per map task
    probes.join(lists, Seq("cid")).filter(col("q") =!= col("b"))
      .withColumn("cos", VectorFns.dot(col("qv"), col("bv")))
      .groupBy("q")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("cos"), (-col("b")).as("nb")), k).as("top"))
      .select(col("q"), posexplode(col("top")))
      .select(col("q"), (col("pos") + 1).cast("int").as("rank"),
        (-col("col.nb")).as("b"), round(col("col.cos"), 6).as("cos"))
  }

  /** Embedding-space outlier detection — the curation step that flags
    * likely-mislabeled / corrupt / off-distribution vectors before they
    * poison an index or a training mix: every vector's cohesion is its
    * cosine to its OWN IVF centroid ([[ivfCentroids]] + one assignment
    * pass), per-cluster mean and standard deviation come from
    * DECIMAL(30,15) sums (order-independent — the cross-engine float
    * lesson), and a vector is an outlier when its cohesion falls more
    * than `factor` standard deviations below its cluster's mean.
    *
    * Everything downstream of the bounded ≤nCentroids centroid table
    * is exact IEEE arithmetic in a fixed expression shape, so any
    * engine replays the identical outlier set bit-for-bit. Scale
    * shape: one bounded corpus×nCentroids assignment pass, one
    * nCentroids-row stats aggregate broadcast back over the cohesion
    * frame — no window, no sort, no quantile sketch.
    *
    * Returns (vec_id, cid, cos, mean_cos, sd) for flagged vectors,
    * cos/mean_cos/sd rounded to 6 for presentation.
    *
    * The cohesion frame feeds BOTH the stats leg and the outlier
    * join, so the Managed form persists it (the s15 lesson — the
    * corpus×nCentroids assignment is the expensive subtree a two-pass
    * plan would evaluate twice); the unmanaged form keeps one live
    * cached frame per session ([[graft.functions.SessionRelease]]). */
  private val outlierUnmanagedRelease = new graft.functions.SessionRelease

  def centroidOutliers(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nCentroids: Int = 16,
      iters: Int = IvfKmeansIters, factor: Double = 1.5): DataFrame = {
    val (out, release) = centroidOutliersManaged(emb, idCol, vecCol,
      nCentroids, iters, factor)
    outlierUnmanagedRelease.swap(emb.sparkSession, release)
    out
  }

  /** [[centroidOutliers]] plus a release handle for the cached
    * cohesion frame. Release strictly AFTER materializing the result;
    * safe to call twice. */
  def centroidOutliersManaged(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nCentroids: Int = 16,
      iters: Int = IvfKmeansIters, factor: Double = 1.5)
      : (DataFrame, () => Unit) = {
    val (wc, th, release) =
      cohesionFrames(emb, idCol, vecCol, nCentroids, iters)
    val out = wc.join(broadcast(th), Seq("cid"))
      .filter(col("cos") < col("mean_cos") - lit(factor) * col("sd"))
      .select(col("id").as("vec_id"), col("cid"),
        round(col("cos"), 6).as("cos"),
        round(col("mean_cos"), 6).as("mean_cos"),
        round(col("sd"), 6).as("sd"))
    (out, release)
  }

  /** Shared cohesion machinery behind [[centroidOutliers]] and
    * [[centroidOutlierSweep]]: the persisted (id, cid, cos) cohesion
    * frame, the per-cluster (cid, mean_cos, sd) stats, and the release
    * for the persist. */
  private def cohesionFrames(emb: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int, iters: Int)
      : (DataFrame, DataFrame, () => Unit) = {
    import org.apache.spark.sql.types.DecimalType
    val cents = ivfCentroids(emb, idCol, vecCol, nCentroids, iters)
    val wc = assignPass(normalize(emb, "id", "vn", idCol, vecCol), cents)
      .join(broadcast(cents), Seq("cid"))
      .withColumn("cos", VectorFns.dot(col("vn"), col("cv")))
      .select(col("id"), col("cid"), col("cos"))
      .persist()
    val st = wc.groupBy("cid")
      .agg(count(lit(1)).as("n"),
        sum(col("cos").cast(DecimalType(30, 15))).cast("double").as("sc"),
        sum((col("cos") * col("cos")).cast(DecimalType(30, 15)))
          .cast("double").as("sq"))
    val th = st
      .withColumn("mean_cos", col("sc") / col("n").cast("double"))
      .withColumn("sd",
        sqrt(greatest(col("sq") / col("n").cast("double")
          - (col("sc") / col("n").cast("double"))
            * (col("sc") / col("n").cast("double")), lit(0.0))))
      .select("cid", "mean_cos", "sd")
    (wc, th, () => { wc.unpersist(); () })
  }

  /** See [[graft.functions.SessionRelease]]. */
  private val sweepUnmanagedRelease = new graft.functions.SessionRelease

  /** Operating-point sweep for the outlier rule — ONE centroid build +
    * ONE cohesion pass serves every swept `factor` (the s14 sweep
    * shape: never rebuild the instrument per operating point): per
    * threshold, how many vectors and how many clusters the rule would
    * flag. The factor axis rides as a broadcast |factors|-row side;
    * every output is an exact integer count, so the sweep is
    * cross-engine exact. */
  def centroidOutlierSweep(emb: DataFrame, factors: Seq[Double],
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCentroids: Int = 16, iters: Int = IvfKmeansIters): DataFrame = {
    val (out, release) = centroidOutlierSweepManaged(emb, factors, idCol,
      vecCol, nCentroids, iters)
    sweepUnmanagedRelease.swap(emb.sparkSession, release)
    out
  }

  /** [[centroidOutlierSweep]] plus the cohesion-frame release handle. */
  def centroidOutlierSweepManaged(emb: DataFrame, factors: Seq[Double],
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCentroids: Int = 16, iters: Int = IvfKmeansIters)
      : (DataFrame, () => Unit) = {
    require(factors.nonEmpty, "centroidOutlierSweep: at least one factor")
    val spark = emb.sparkSession
    import spark.implicits._
    val (wc, th, release) =
      cohesionFrames(emb, idCol, vecCol, nCentroids, iters)
    val f = factors.toDF("factor")
    val flagged = wc.join(broadcast(th), Seq("cid"))
      .crossJoin(broadcast(f))
      .filter(col("cos") < col("mean_cos") - col("factor") * col("sd"))
      .groupBy("factor")
      .agg(count(lit(1)).as("n_flagged"),
        countDistinct(col("cid")).as("n_clusters"))
    val out = f.join(flagged, Seq("factor"), "left")
      .select(col("factor"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("n_clusters"), lit(0L)).as("n_clusters"))
    (out, release)
  }

  /** [[ivfTopK]] at SEVERAL nProbe operating points in one pass — the
    * recall-vs-cost tuning sweep an index operator reads before fixing
    * nProbe. Building the sweep as N independent `ivfTopK` calls would
    * re-run k-means and re-assign the whole corpus once per point; here
    * the index (centroids + inverted lists) is built ONCE, each query's
    * centroid probes are ranked once up to `max(nProbes)`, and every
    * candidate cosine is computed once — a candidate then fans out only
    * to the swept points whose probe budget includes its centroid rank
    * (a broadcast |nProbes|-row non-equi join over the already-tiny
    * (q, pr, b, cos) rows). Per swept point the result is bit-identical
    * to `ivfTopK(nProbe = np)` (same probe tiebreak, same heap).
    * Output: (np, q, rank, b, cos). */
  def ivfTopKSweep(queries: DataFrame, corpus: DataFrame, k: Int,
      nProbes: Seq[Int], idCol: String = "vec_id",
      vecCol: String = "embedding", nCentroids: Int = 16,
      iters: Int = IvfKmeansIters): DataFrame = {
    require(nProbes.nonEmpty, "nProbes must name at least one operating point")
    val spark = queries.sparkSession
    import spark.implicits._
    val maxP = nProbes.max
    val cents = ivfCentroids(corpus, idCol, vecCol, nCentroids, iters)
    val lists = assignPass(normalize(corpus, "id", "vn", idCol, vecCol), cents)
      .select(col("id").as("b"), col("vn").as("bv"), col("cid"))
    val qn = normalize(queries, "q", "qv", idCol, vecCol)
    val probes = qn.crossJoin(broadcast(cents))
      .withColumn("ccos", VectorFns.dot(col("qv"), col("cv")))
      .groupBy("q")
      .agg(first("qv").as("qv"), graft.functions.TopKAgg.topK(
        struct(col("ccos"), (-col("cid")).as("nc")), maxP).as("top"))
      .select(col("q"), col("qv"), posexplode(col("top")))
      .select(col("q"), col("qv"), (col("pos") + 1).as("pr"),
        (-col("col.nc")).as("cid"))
    val cand = probes.join(lists, Seq("cid")).filter(col("q") =!= col("b"))
      .withColumn("cos", VectorFns.dot(col("qv"), col("bv")))
      .select(col("q"), col("pr"), col("b"), col("cos"))
    cand.join(broadcast(nProbes.map(_.toLong).toDF("np")),
        col("pr") <= col("np"))
      .groupBy("np", "q")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("cos"), (-col("b")).as("nb")), k).as("top"))
      .select(col("np"), col("q"), posexplode(col("top")))
      .select(col("np"), col("q"), (col("pos") + 1).cast("int").as("rank"),
        (-col("col.nb")).as("b"), round(col("col.cos"), 6).as("cos"))
  }

  /** LSH-bucketed top-k: exact cosine ranking restricted to candidates
    * sharing any table bucket with the query. Same output shape as
    * [[bruteForceTopK]]. BY DEFAULT the plane count and the hot-bucket
    * cap are derived from one bounded `corpus.count()` —
    * [[planesFor]] sizes the per-table bucket count so occupancy stays
    * near `targetBucketSize`, [[graft.functions.Buckets.capFor]] sizes
    * the tolerated occupancy to the same geometry. A FIXED plane count
    * degenerates toward all-pairs as the corpus grows (the round-8
    * 100x probe measured 3 fixed planes at 33.8x wall-clock for 100x
    * data); pass Some(...) only to pin a configuration (the s12
    * labeled contrast, oracle mirrors). Over-cap corpus buckets are
    * dropped and surfaced via the "graft.lsh.ann" observation
    * ([[graft.functions.Buckets]]) — a degenerate bucket (e.g.
    * all-zero vectors hashing together) would otherwise dominate the
    * candidate join. */
  /** The unmanaged wrapper keeps at most ONE cached corpus-bucket frame
    * alive PER SESSION: each call releases the same session's previous
    * frame before persisting its own, so repeated invocations (a
    * benchmark loop, the registered s02 path) never accumulate cached
    * frames — and a call from a DIFFERENT session (CoresProbe's lo/hi
    * sessions, concurrent suites) can no longer unpersist a frame this
    * session is still lazily evaluating ([[graft.functions
    * .SessionRelease]]). Releasing the predecessor is safe — if its
    * result is somehow still unmaterialized, the buckets recompute;
    * correctness is unchanged. Long-lived callers that interleave
    * corpora — and callers that CONSTRUCT several lshTopK frames in one
    * session before materializing any (the predecessor's frame would be
    * released pre-collect and its bucket derivation recomputed on both
    * cap branches) — must use [[lshTopKManaged]] and release explicitly
    * after materializing. */
  private val lastUnmanagedRelease = new graft.functions.SessionRelease

  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, planesPerTable: Option[Int] = None, nTables: Int = 8,
      maxBucketSize: Option[Int] = None, targetBucketSize: Int = 250)
      : DataFrame = {
    val (out, release) =
      lshTopKManaged(queries, corpus, k, idCol, vecCol, dim, planesPerTable,
        nTables, maxBucketSize, targetBucketSize)
    lastUnmanagedRelease.swap(queries.sparkSession, release)
    out
  }

  /** [[lshTopK]] plus a release handle for the cached corpus bucket
    * frame. Release strictly AFTER materializing the result; repeated
    * callers (a query server) must use this form or cached bucket
    * frames accumulate until LRU pressure. */
  def lshTopKManaged(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, planesPerTable: Option[Int] = None, nTables: Int = 8,
      maxBucketSize: Option[Int] = None, targetBucketSize: Int = 250)
      : (DataFrame, () => Unit) = {
    // one bounded driver action (count-star) sizes whichever of the
    // two knobs the caller left to the corpus; skipped when both given
    lazy val n = corpus.count()
    val planes = planesPerTable.getOrElse(planesFor(n, targetBucketSize))
    val cap = maxBucketSize.getOrElse(
      graft.functions.Buckets.capFor(n, planes))
    // candidate ids via bucket join + distinct on (q,b) ONLY — vectors
    // stay out of the dedup shuffle and join back once per candidate.
    // The corpus bucket frame is persisted because the occupancy cap
    // reads it twice (Buckets.cap cost note) and bucket derivation IS
    // the hyperplane hashing — recomputing it doubled s02's wall-clock
    // on the 100x probe corpus before this cache.
    val qb = withLshBuckets(queries, vecCol, dim, planes, nTables)
      .select(col(idCol).as("q"), col("bucket"))
    val cbRaw = withLshBuckets(corpus, vecCol, dim, planes, nTables)
      .select(col(idCol).as("b"), col("bucket"))
      .persist()
    val cb = graft.functions.Buckets.cap(cbRaw,
      "bucket", cap, "graft.lsh.ann")
    val cand = qb.join(cb, Seq("bucket")).filter(col("q") =!= col("b"))
      .select("q", "b").distinct() // OR across tables
    val qv = normalize(queries, "q", "qv", idCol, vecCol)
    val cv = normalize(corpus, "b", "bv", idCol, vecCol)
    // bounded-heap ranking: a hot bucket's candidate flood never
    // serializes into one sorted window partition
    val out = cand.join(qv, Seq("q")).join(cv, Seq("b"))
      .withColumn("cos", VectorFns.dot(col("qv"), col("bv")))
      .groupBy("q")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("cos"), (-col("b")).as("nb")), k).as("top"))
      .select(col("q"), posexplode(col("top")))
      .select(col("q"), (col("pos") + 1).cast("int").as("rank"),
        (-col("col.nb")).as("b"), round(col("col.cos"), 6).as("cos"))
    (out, () => { cbRaw.unpersist(); () })
  }

  // ------------------------------------------------------------------ pq

  /** Default PQ geometry: 4 subspaces of dim/4 dims, 8 centroids each
    * — 4 small codes per stored vector instead of 64 doubles. */
  val PqSubvectors = 4
  val PqCodebookSize = 8

  /** Subvector rows (id, m, sv) of already-normalized vectors. */
  private def subRows(normed: DataFrame, nSub: Int, dim: Int): DataFrame = {
    require(dim % nSub == 0, s"PQ: dim $dim must split into $nSub subspaces")
    val subDim = dim / nSub
    normed.select(col("id"), explode(array((0 until nSub).map(m =>
        struct(lit(m).as("m"),
          slice(col("vn"), m * subDim + 1, subDim).as("sv"))): _*)).as("s"))
      .select(col("id"), col("s.m").as("m"), col("s.sv").as("sv"))
  }

  /** One L2 argmin of subvectors onto per-subspace centroids —
    * (id, m, sv, cid). Minimizing ||sv-cv||^2 equals maximizing
    * 2*sv.cv - cv.cv (sv.sv is constant per row); same map-side
    * max(struct) argmax as [[assignPass]], ties to the lower cid. */
  private def pqAssign(subs: DataFrame, books: DataFrame): DataFrame =
    subs.join(broadcast(books), Seq("m"))
      .withColumn("score", lit(2.0) * VectorFns.dot(col("sv"), col("cv"))
        - VectorFns.dot(col("cv"), col("cv")))
      .groupBy("id", "m")
      .agg(first("sv").as("sv"),
        max(struct(col("score"), (-col("cid")).as("nc"))).as("best"))
      .select(col("id"), col("m"), col("sv"), (-col("best.nc")).as("cid"))

  /** PQ codebooks (m, cid, cv): per subspace, seeded from the first
    * `k` corpus vectors' subvectors and refined by `iters` Lloyd
    * passes. Component means run through the same exact-DECIMAL(30,15)
    * sums as [[ivfCentroids]] (order-independent, engine-replayable),
    * then one double division by the member count — so the oracle
    * rebuilds bit-identical codebooks. The per-iteration collect is
    * bounded at nSub*k rows (32 by default), MLlib-style. */
  def pqCodebooks(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64,
      nSub: Int = PqSubvectors, k: Int = PqCodebookSize,
      iters: Int = IvfKmeansIters): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val spark = emb.sparkSession
    import spark.implicits._
    // respread + released persist, as in [[ivfCentroids]]: every Lloyd
    // pass re-reads this frame, and a single-row-group input would run
    // each pass one-task
    val subs = graft.functions.Spread.across(
      subRows(normalize(emb, "id", "vn", idCol, vecCol), nSub, dim))
      .persist()
    var books = subs.filter(col("id") < k)
      .select(col("m"), col("id").as("cid"), col("sv").as("cv"))
    for (_ <- 0 until iters) {
      val sums = pqAssign(subs, books)
        .select(col("m"), col("cid"), posexplode(col("sv")))
        .toDF("m", "cid", "pos", "x")
        .groupBy("m", "cid", "pos")
        .agg(sum(col("x").cast(DecimalType(30, 15))).as("s"),
          count(lit(1)).as("cnt"))
      val next = sums
        .groupBy("m", "cid")
        .agg(collect_list(struct(col("pos"), col("s"), col("cnt"))).as("ps"))
        .select(col("m"), col("cid"),
          transform(array_sort(col("ps")),
            p => p.getField("s").cast("double") / p.getField("cnt"))
            .as("cv"))
      books = next.as[(Int, Long, Seq[Double])].collect().toSeq
        .sortBy(t => (t._1, t._2)).toDF("m", "cid", "cv")
    }
    books
  }

  /** PQ codes of the corpus against frozen codebooks: (id, m, cid).
    * Per-vector independent, so delta batches encode incrementally the
    * same way [[ivfAssignTo]] assigns them. */
  def pqEncode(emb: DataFrame, books: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64,
      nSub: Int = PqSubvectors): DataFrame =
    pqAssign(subRows(normalize(emb, "id", "vn", idCol, vecCol), nSub, dim),
      books).select("id", "m", "cid")

  /** IVF-PQ top-k (the FAISS composition): IVF probes bound the
    * candidate set, then candidates are scored from their PQ codes by
    * asymmetric distance — sum over subspaces of dot(query subvector,
    * the candidate's codebook centroid). Query time never touches a
    * stored full vector: the index is inverted lists + nSub small
    * codes per vector, the memory shape that makes billion-vector
    * serving possible. Recall loss vs exact IVF is the quantization
    * error; re-rank survivors against full vectors where that matters.
    * Summation order over subspaces is pinned (p0+p1+p2+p3), so the
    * oracle reproduces scores bit-for-bit. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCentroids: Int = 16, nProbe: Int = 2, dim: Int = 64,
      nSub: Int = PqSubvectors, pqK: Int = PqCodebookSize,
      iters: Int = IvfKmeansIters): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nCentroids, iters)
    val lists = assignPass(normalize(corpus, "id", "vn", idCol, vecCol),
      cents).select(col("id").as("b"), col("cid"))
    val books = pqCodebooks(corpus, idCol, vecCol, dim, nSub, pqK, iters)
    val codes = pqEncode(corpus, books, idCol, vecCol, dim, nSub)
      .select(col("id").as("b"), col("m"), col("cid").as("code"))
    val qn = normalize(queries, "q", "qv", idCol, vecCol)
    val probes = qn.crossJoin(broadcast(cents))
      .withColumn("ccos", VectorFns.dot(col("qv"), col("cv")))
      .groupBy("q")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("ccos"), (-col("cid")).as("nc")), nProbe).as("top"))
      .select(col("q"), explode(col("top")).as("p"))
      .select(col("q"), (-col("p.nc")).as("cid"))
    val qsubs = subRows(qn.select(col("q").as("id"), col("qv").as("vn")),
        nSub, dim)
      .select(col("id").as("q"), col("m"), col("sv").as("qsv"))
    val cand = probes.join(lists, Seq("cid")).filter(col("q") =!= col("b"))
      .select("q", "b")
    val parts = cand.join(codes, Seq("b"))
      .join(broadcast(books.withColumnRenamed("cid", "code")),
        Seq("m", "code"))
      .join(qsubs, Seq("q", "m"))
      .withColumn("p", VectorFns.dot(col("qsv"), col("cv")))
    val partCols = (0 until nSub).map(m =>
      sum(when(col("m") === m, col("p"))).as(s"p$m"))
    // bounded-heap ranking over the asymmetric-distance scores, same
    // shuffle discipline as ivfTopK/lshTopK
    parts.groupBy("q", "b")
      .agg(partCols.head, partCols.tail: _*)
      .withColumn("score",
        (0 until nSub).map(m => col(s"p$m")).reduce(_ + _))
      .groupBy("q")
      .agg(graft.functions.TopKAgg.topK(
        struct(col("score"), (-col("b")).as("nb")), k).as("top"))
      .select(col("q"), posexplode(col("top")))
      .select(col("q"), (col("pos") + 1).cast("int").as("rank"),
        (-col("col.nb")).as("b"), round(col("col.score"), 6).as("score"))
  }
}
