package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.vector.VectorFns

/** Corpus deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: every method is blocked — candidate pairs only form
  * inside a bounded bucket (shared rare shingle, LSH band bucket,
  * SimHash 16-bit band, embedding label/LSH bucket), never via an
  * O(n²) cross join, and every LSH bucket join is hot-bucket-capped
  * ([[graft.functions.Buckets]]). Hashing is md5-hex / integer
  * arithmetic so any engine (the DuckDB oracle included) reproduces
  * signatures bit-for-bit.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact-duplicate groups on the normalized-text fingerprint: one row
    * per duplicated fingerprint with member count and canonical (min)
    * doc id. */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(TextFns.fingerprintMd5(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_members"), min(idCol).as("canonical_id"))
      .filter(col("n_members") > 1)

  // ------------------------------------------------------------- shingles

  /** Distinct word n-gram shingle array per document (empty when the
    * doc has fewer than n words — guards Spark's descending sequence). */
  def shingleArray(text: Column, n: Int = 3): Column = {
    val ws = TextFns.words(text)
    when(size(ws) >= n,
      array_distinct(transform(sequence(lit(1), size(ws) - (n - 1)),
        i => array_join(slice(ws, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** (id, shingle) exploded distinct shingles. The input is respread
    * first (guide §2.5): the shingle explode + per-shingle md5 work
    * stacked on this scan is the dominant map-side cost of the whole
    * MinHash/Jaccard family, and a single-row-group input would run
    * it all in one task. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3)
      : DataFrame =
    graft.functions.Spread.across(docs).select(col(idCol).as("id"),
      explode(shingleArray(col(textCol), n)).as("sh"))

  /** n-gram Jaccard near-dup pairs: candidate pairs come from shared
    * RARE shingles (df <= maxDF — frequent shingles contribute
    * candidates quadratically but little signal), then the TRUE
    * Jaccard is computed over the full distinct-shingle sets of the
    * surviving pairs only. Blocking gates candidate generation, never
    * the similarity itself. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, maxDF: Int = 50,
      minJaccard: Double = 0.8): DataFrame = {
    // the shingle table feeds four consumers (sizes, df filter, pair
    // generation, intersection) — materialize it once. Shingles travel
    // as 8-byte hashes, not multi-word strings: the same sets and
    // counts (the oracle hashes identically, collisions included)
    // through severalfold-narrower shuffles. Shingling itself is the
    // fused native [[graft.functions.ShingleHashes]] pass — n-gram
    // build, string-level distinct, and PolyHash64 in one loop — not a
    // tree of interpreted higher-order lambdas. The input is respread
    // first (guide §2.5 — see [[graft.functions.Spread]]).
    val sh = graft.functions.Spread.across(docs)
      .select(col(idCol).as("id"),
        explode(graft.functions.ShingleHashes(
          TextFns.words(col(textCol)), n)).as("sh"))
      .persist()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDF)
    val blocked = sh.join(rare.select("sh"), "sh")
      .join(broadcast(sizes), "id")
    val cand = blocked.select(col("sh"), col("id").as("a"), col("n_sh").as("na"))
      .join(blocked.select(col("sh"), col("id").as("b"), col("n_sh").as("nb")),
        Seq("sh"))
      .filter(col("a") < col("b"))
      .select("a", "b", "na", "nb").distinct()
    // lossless size prune before any shingle ARRAY travels: the final
    // filter keeps round(i/(na+nb-i), 4) >= t, which (since i <=
    // min(na, nb)) is impossible unless min*(1+t') >= t'*(na+nb) with
    // t' = t - 1e-4 (slack for the 4-digit rounding). Candidates whose
    // sizes differ too much are dropped from integer metadata alone —
    // the surviving-pair set, and so the output, is provably unchanged.
    val tPrune = minJaccard - 1e-4
    val candP = cand
      .filter(least(col("na"), col("nb")) * (1.0 + tPrune) >=
        (col("na") + col("nb")) * tPrune)
      .select("a", "b")
    // exact intersection over ALL shingles, restricted to candidates:
    // each doc's full shingle set travels ONCE as a packed array and
    // the per-pair intersection is a single set operation — versus the
    // explode form (pair x shingle rows through a join + count groupBy)
    // whose shuffle grows with |cand| x |set|
    val sets = sh.groupBy("id")
      .agg(collect_list(col("sh")).as("set"), count(lit(1)).as("n_sh"))
    val inter = candP
      .join(sets.toDF("a", "sa", "na"), Seq("a"))
      .join(sets.toDF("b", "sb", "nb"), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("i"),
        col("na"), col("nb"))
    inter
      .select(col("a"), col("b"),
        round(col("i") / (col("na") + col("nb") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Asymmetric near-SUBSET detection: containment C(A in B) =
    * |A∩B| / |A| catches a small document quoted inside a large one,
    * which symmetric Jaccard (i / union) misses as soon as the size
    * ratio grows (Broder 1997's "containment" companion measure). Same
    * rare-shingle blocking and hashed-shingle shuffle economics as
    * [[ngramJaccardPairs]], but NO size prune — a pair of very
    * different sizes is exactly the interesting case here. Emits both
    * directions per unordered pair; filter is on the larger one. */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, maxDF: Int = 50,
      minContainment: Double = 0.8): DataFrame = {
    val sh = graft.functions.Spread.across(docs)
      .select(col(idCol).as("id"),
        explode(graft.functions.ShingleHashes(
          TextFns.words(col(textCol)), n)).as("sh"))
      .persist()
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDF)
    val blocked = sh.join(rare.select("sh"), "sh")
    val cand = blocked.select(col("sh"), col("id").as("a"))
      .join(blocked.select(col("sh"), col("id").as("b")), Seq("sh"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val sets = sh.groupBy("id")
      .agg(collect_list(col("sh")).as("set"), count(lit(1)).as("n_sh"))
    cand
      .join(sets.toDF("a", "sa", "na"), Seq("a"))
      .join(sets.toDF("b", "sb", "nb"), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("i"),
        col("na"), col("nb"))
      .select(col("a"), col("b"),
        round(col("i") / col("na"), 4).as("cont_a"),
        round(col("i") / col("nb"), 4).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
  }

  // -------------------------------------------------------------- minhash

  /** Distributed signature table (id, sig array<string>): shingles are
    * exploded once and the k minima run as ONE codegen'd hash
    * aggregation (k `min` aggregates over the shingle rows) — no
    * interpreted per-row lambda over the whole shingle set, one shuffle
    * by id. This is the form that scales: cost is O(|shingles| * k)
    * map-side with partial aggregation. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int, n: Int): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    val minCols = (0 until k).map(s =>
      min(md5(concat(lit(s.toString), lit("|"), col("sh")))).as(s"m$s"))
    sh.groupBy("id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"), array((0 until k).map(s => col(s"m$s")): _*).as("sig"))
  }

  /** LSH band bucket ids: bands of r signature rows hashed together;
    * docs sharing any bucket are candidates. */
  def lshBuckets(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|",
        (b.cast("string") +:
          (1 to rows).map(r => element_at(sig, b * rows + r))): _*)))

  /** MinHash+LSH near-dup candidate pairs with estimated Jaccard
    * (signature agreement rate). Band buckets above the hot-bucket cap
    * are dropped and surfaced via the "graft.lsh.minhash" observation.
    * The cap DEFAULTS to the occupancy-scaled
    * [[graft.functions.Buckets.capFor]] derived from one bounded
    * `docs.count()` — the round-8 100x probe proved a fixed constant
    * is a disk-spill hazard on a duplicate-saturated corpus (buckets
    * 50x expected occupancy squared into the candidate join); pass
    * Some(cap) only when the corpus size is already known. */
  def minhashLshPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 12, bands: Int = 4,
      minEst: Double = 0.5, n: Int = 3,
      maxBucketSize: Option[Int] = None): DataFrame =
    minhashLshPairsManaged(docs, idCol, textCol, k, bands, minEst, n,
      maxBucketSize)._1

  /** [[minhashLshPairs]] plus a release handle that unpersists the two
    * intermediate caches (signatures + capped buckets). Call strictly
    * AFTER materializing the returned frame; safe to call twice. In a
    * long-lived session the unmanaged form accumulates cached
    * partitions across calls until LRU pressure causes recomputes
    * elsewhere — repeated callers must use this form, as
    * [[graft.streaming.IngestDedup]] does with the incremental one. */
  def minhashLshPairsManaged(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 12, bands: Int = 4,
      minEst: Double = 0.5, n: Int = 3,
      maxBucketSize: Option[Int] = None): (DataFrame, () => Unit) = {
    require(k % bands == 0,
      s"signature length k=$k must divide into bands=$bands evenly")
    // one bounded driver action (parquet count-star — no pipeline
    // recompute) sizes the cap to the corpus when the caller didn't
    val cap = maxBucketSize.getOrElse(graft.functions.Buckets.capFor(
      docs.count(), graft.functions.Buckets.BandBits))
    val rows = k / bands
    // one shuffle builds every signature; persisted because the plan
    // references it three times (buckets + both pair sides)
    val sigs = minhashSignatures(docs, idCol, textCol, k, n).persist()
    // the capped bucket frame carries a bucket-key occupancy shuffle;
    // it feeds both sides of the candidate self-join, so persist it or
    // the whole subtree (signatures included) computes twice
    val buckets = graft.functions.Buckets.cap(
      sigs.select(col("id"),
        explode(lshBuckets(col("sig"), bands, rows)).as("bucket")),
      "bucket", cap, "graft.lsh.minhash").persist()
    val cand = buckets.select(col("bucket"), col("id").as("a"))
      .join(buckets.select(col("bucket"), col("id").as("b")), Seq("bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val out = cand
      .join(sigs.select(col("id").as("a"), col("sig").as("siga")), "a")
      .join(sigs.select(col("id").as("b"), col("sig").as("sigb")), "b")
      .select(col("a"), col("b"),
        round(size(filter(zip_with(col("siga"), col("sigb"),
          (x, y) => x === y), p => p)) / lit(k.toDouble), 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
    (out, () => { sigs.unpersist(); buckets.unpersist(); () })
  }

  /** Incremental near-dup: candidates for a (small) NEW batch against
    * an already-materialized signature index, plus within-batch pairs —
    * the ingest-time shape. The index side contributes ONLY its stored
    * `(id, sig)` rows: no index text is re-shingled, no index–index
    * pair forms, and the delta's bucket set is broadcast against the
    * index bucket scan, so the whole pass is O(|index| + |delta|) with
    * one shuffle on the delta side. Signatures are per-document
    * functions of the text alone, so the result equals the full-corpus
    * [[minhashLshPairs]] restricted to pairs touching the delta.
    *
    * Hot-bucket cap semantics: occupancy is counted over the
    * ACCUMULATED bucket population — stored index rows plus this
    * delta's rows together — so within-batch buckets are capped too,
    * and a bucket that crosses `maxBucketSize` stops producing pairs
    * from that batch on, exactly when the batch pipeline would drop it.
    * Pairs a hot bucket emitted in EARLIER batches (while still under
    * the cap) are already persisted and are not retracted, so on a
    * dup-dense corpus the streamed union of per-batch outputs is a
    * SUPERSET of [[minhashLshPairs]] on over-cap buckets; the two are
    * equal exactly when every bucket stays under the cap for the whole
    * run (the sub-cap regime the batching-invariance tests pin).
    *
    * CACHING SIDE EFFECT: the index signatures (including the
    * caller-passed `indexSigs`), the delta signatures and the capped
    * bucket table are `persist()`ed — each feeds 2–3 consumers of the
    * returned plan. The caches live until session LRU eviction; a
    * caller invoking this repeatedly (one call per micro-batch, say)
    * should use [[incrementalLshPairsManaged]] and release after
    * materializing the result, as [[graft.streaming.IngestDedup]]
    * does.
    *
    * @param indexSigs stored signature table `(id, sig array<string>)`
    *                  as produced by [[minhashSignatures]]
    * @return (a, b, est_jaccard) with a < b, at least one side new
    */
  def incrementalLshPairs(indexSigs: DataFrame, newDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 12,
      bands: Int = 4, minEst: Double = 0.5, n: Int = 3,
      maxBucketSize: Option[Int] = None): DataFrame =
    incrementalLshPairsManaged(indexSigs, newDocs, idCol, textCol, k,
      bands, minEst, n, maxBucketSize)._1

  /** [[incrementalLshPairs]] plus a release handle that unpersists the
    * three intermediate caches. Call it strictly AFTER materializing
    * the returned frame (releasing first would recompute the shared
    * subtrees once per consumer); safe to call more than once. */
  def incrementalLshPairsManaged(indexSigs: DataFrame, newDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 12,
      bands: Int = 4, minEst: Double = 0.5, n: Int = 3,
      maxBucketSize: Option[Int] = None): (DataFrame, () => Unit) =
    incrementalLshPairsFromSigsManaged(indexSigs,
      minhashSignatures(newDocs, idCol, textCol, k, n), k, bands, minEst,
      maxBucketSize)

  /** [[incrementalLshPairsManaged]] taking PRE-COMPUTED delta
    * signatures instead of raw documents. The ingest shape
    * ([[graft.streaming.IngestDedup]], [[graft.streaming.StreamingCorpusBuild]])
    * must write the delta's `(id, sig)` rows to the accumulated index
    * anyway — computing signatures once, writing them, and feeding the
    * stored rows back here halves the per-batch text work (the shingle
    * explode + k-way min aggregation is the dominant arrival-time cost;
    * re-reading the compact signature parquet is not). Semantics are
    * identical to the raw-docs form: signatures are per-document
    * functions of the text alone. */
  def incrementalLshPairsFromSigsManaged(indexSigs: DataFrame,
      deltaSigs: DataFrame, k: Int = 12, bands: Int = 4,
      minEst: Double = 0.5,
      maxBucketSize: Option[Int] = None): (DataFrame, () => Unit) = {
    require(k % bands == 0,
      s"signature length k=$k must divide into bands=$bands evenly")
    val rows = k / bands
    val newSigs = deltaSigs.persist()
    // the index side feeds three consumers (bucket explode + both
    // sides of the verify join): persist it, or a caller passing a
    // COMPUTED frame (rather than a stored table scan) pays the
    // signature aggregation three times over
    val idx = indexSigs.persist()
    // default cap sized to the ACCUMULATED corpus (index + delta) —
    // the population the occupancy count runs over; both counts hit
    // frames that are persisted and consumed below anyway
    val cap = maxBucketSize.getOrElse(graft.functions.Buckets.capFor(
      idx.count() + newSigs.count(), graft.functions.Buckets.BandBits))
    // cap on index+delta occupancy TOGETHER (one aggregate shuffle on
    // bucket — the same exchange the index-side cap already paid), so
    // the within-batch self-join is bounded by the same policy as the
    // batch pipeline and the cap engages at accumulated corpus size
    val allBuckets = graft.functions.Buckets.cap(
      idx.select(col("id"),
          explode(lshBuckets(col("sig"), bands, rows)).as("bucket"))
        .withColumn("side", lit("i"))
        .unionByName(newSigs.select(col("id"),
            explode(lshBuckets(col("sig"), bands, rows)).as("bucket"))
          .withColumn("side", lit("d"))),
      "bucket", cap, "graft.lsh.incremental").persist()
    val newBuckets = allBuckets.filter(col("side") === "d").drop("side")
    val idxBuckets = allBuckets.filter(col("side") === "i").drop("side")
    val cross = idxBuckets.select(col("bucket"), col("id").as("i"))
      .join(broadcast(newBuckets.select(col("bucket"), col("id").as("d"))),
        Seq("bucket"))
      .select(least(col("i"), col("d")).as("a"),
        greatest(col("i"), col("d")).as("b"))
      .filter(col("a") < col("b"))
    val within = newBuckets.select(col("bucket"), col("id").as("a"))
      .join(newBuckets.select(col("bucket"), col("id").as("b")), Seq("bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
    val cand = cross.unionByName(within).distinct()
    val sigs = idx.unionByName(newSigs)
    val result = cand
      .join(sigs.select(col("id").as("a"), col("sig").as("siga")), "a")
      .join(sigs.select(col("id").as("b"), col("sig").as("sigb")), "b")
      .select(col("a"), col("b"),
        round(size(filter(zip_with(col("siga"), col("sigb"),
          (x, y) => x === y), p => p)) / lit(k.toDouble), 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
    val release = () => {
      newSigs.unpersist()
      idx.unpersist()
      allBuckets.unpersist()
      ()
    }
    (result, release)
  }

  // ----------------------------------------------- substring span dedup

  /** Exact cross-document repeated SUBSTRING spans — the
    * character-level dedup that document/chunk-level methods miss
    * (boilerplate headers, licence blocks, templated passages shorter
    * than a document but longer than a shingle).
    *
    * Method (the distributed stand-in for an offline suffix array):
    *   1. every k-char gram of the normalized text becomes a
    *      (md5(gram), doc, pos) row — map-side generation, O(chars);
    *   2. grams are rare-filtered to hashes appearing in ≥ 2 DISTINCT
    *      docs (one hash-keyed count with map-side partial agg — the
    *      only full shuffle, and its payload is 16-byte hashes, never
    *      text);
    *   3. per doc, surviving positions merge into maximal runs with
    *      one lag window + running sum (consecutive positions = the
    *      same repeated region), giving spans [start, end] of length
    *      ≥ k whose every k-gram also occurs in some other document.
    *
    * Shuffle discipline at 100 TB: stage 2's aggregate bounds the
    * data movement by distinct-gram count; stage 3 shuffles only
    * positions of CROSS-DOC-repeated grams — proportional to the
    * duplicated content, not the corpus. */
  def substringSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 20): DataFrame = {
    require(k >= 4, s"substringSpans: gram length k=$k too short to block on")
    // respread (guide §2.5): the md5-per-position gram stage below is
    // the heaviest per-char scan in the registry — a single-row-group
    // input ran it 3.3 s in one task while 31 cores idled
    val normed = graft.functions.Spread.across(docs)
      .select(col(idCol).as("id"),
        TextFns.normalize(col(textCol)).as("t"))
    // persisted: the gram table feeds the cross-doc aggregate AND the
    // hits join; without it every position's md5 computes twice
    val grams = normed
      .filter(length(col("t")) >= k)
      .select(col("id"), posexplode(transform(
        sequence(lit(1), length(col("t")) - (k - 1)),
        i => md5(col("t").substr(i, lit(k))))))
      .select(col("id"), (col("pos") + 1).as("p"), col("col").as("h"))
      .persist()
    // rare filter: hashes present in >= 2 distinct docs — tested as
    // min(id) != max(id), a plain min/max partial aggregate instead of
    // per-hash distinct-set tracking (same predicate, far cheaper
    // map-side state)
    val crossDoc = grams.groupBy("h")
      .agg(min("id").as("i0"), max("id").as("i1"))
      .filter(col("i0") =!= col("i1"))
      .select("h")
    val hits = grams.join(crossDoc, "h").select("id", "p")
    // run-merge: consecutive positions belong to one maximal span
    val w = Window.partitionBy("id").orderBy("p")
    hits
      .withColumn("brk",
        when(col("p") - lag("p", 1).over(w) === 1, 0).otherwise(1))
      .withColumn("span", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id").as(idCol), col("span"))
      .agg(min("p").as("span_start"),
        (max("p") + (k - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  // -------------------------------------------------------------- simhash

  // 64 SimHash bits held as two 32-bit halves. Two independent
  // engine-neutral polynomial word hashes (different multiplier and
  // < 2^32 prime modulus) supply 32 bits each; keeping halves separate
  // means no intermediate ever exceeds 2^32, so both Spark and the
  // DuckDB oracle stay inside exact BIGINT arithmetic (a single 64-bit
  // value would need 2^63 shifts, and DuckDB raises on int64 overflow).
  private val SimBits = 64
  private val HalfBits = 32
  private val HashMod1 = 4294967291L // largest prime < 2^32
  private val HashMod2 = 4294967279L // next prime down
  private val HashMult1 = 31L
  private val HashMult2 = 131L

  /** Engine-neutral polynomial word hash: fold acc*mult + ascii(char)
    * mod a below-2^32 prime, seeded with the first char so DuckDB's
    * seedless list_reduce folds identically. */
  private def wordHash(w: Column, mult: Long, mod: Long): Column =
    aggregate(
      slice(transform(split(w, ""), c => ascii(c).cast("long")),
        lit(2), size(split(w, "")) - 1),
      ascii(substring(w, 0, 1)).cast("long"),
      (acc, x) => pmod(acc * mult + x, lit(mod)))

  /** Row-local 64-bit SimHash as struct(sim_lo, sim_hi): per bit, the
    * sign of the +1/−1 vote sum across word hashes (with multiplicity).
    * Pure SQL expression — nested higher-order functions, no UDF. The
    * distributed pipeline uses [[simhashes]]. */
  def simhash(text: Column): Column = {
    val ws = TextFns.words(text)
    // floor(h / 2^j) is exact in double for h < 2^32
    def half(mult: Long, mod: Long): Column = {
      val hs = transform(ws, w => wordHash(w, mult, mod))
      aggregate(sequence(lit(0), lit(HalfBits - 1)), lit(0L),
        (acc, j) => acc + when(
          aggregate(hs, lit(0L),
            (a, h) => a + pmod(floor(h / pow(lit(2.0), j)).cast("long"),
              lit(2L)) * 2 - 1) > 0,
          pow(lit(2.0), j).cast("long")).otherwise(lit(0L)))
    }
    struct(half(HashMult1, HashMod1).as("sim_lo"),
      half(HashMult2, HashMod2).as("sim_hi"))
  }

  /** Distributed SimHash table (id, sim_lo, sim_hi): words explode
    * once, repeated word hashes collapse via a count aggregate, and the
    * per-bit vote sums run as codegen'd hash aggregations — the giant
    * per-document nested lambda of [[simhash]] becomes three cheap
    * shuffles whose map-side partial aggregation bounds the data
    * movement by #(id, bit) groups, not token count. */
  def simhashes(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // respread (guide §2.5): the per-word polynomial hash folds below
    // are per-char work over the whole corpus — skew-bound on
    // single-row-group inputs without it
    val words = graft.functions.Spread.across(docs)
      .select(col(idCol).as("id"),
        explode(TextFns.words(col(textCol))).as("w"))
    val counted = words.select(col("id"),
        wordHash(col("w"), HashMult1, HashMod1).as("h1"),
        wordHash(col("w"), HashMult2, HashMod2).as("h2"))
      .groupBy("id", "h1", "h2").agg(count(lit(1)).as("c"))
    // literal bit positions -> functions.shiftright applies (no
    // lambda-bound shift), keeping the votes fully codegen'd.
    //
    // All 64 bit-votes aggregate as 64 sum columns of ONE groupBy(id)
    // (guide §2.3/§2.4): the earlier posexplode form blew each
    // (id,h1,h2,c) row up 64x and paid a third shuffle on (id, bit) —
    // and because AQE coalesces the small post-agg output to one
    // partition before the explode, that 64x amplification ran in a
    // single task (measured 3.2–4.5 s at bench scale). Same exact
    // integer votes, same sign test, two shuffles instead of three,
    // no row amplification.
    val voteCols = (0 until SimBits).map { j =>
      val (h, b) = if (j < HalfBits) (col("h1"), j)
                   else (col("h2"), j - HalfBits)
      sum((shiftright(h, b).bitwiseAND(1L) * 2 - 1) * col("c")).as(s"v$j")
    }
    val votes = counted.groupBy("id").agg(voteCols.head, voteCols.tail: _*)
    def half(lo: Int): Column =
      (lo until lo + HalfBits).map { j =>
        when(col(s"v$j") > 0, pow(lit(2.0), j - lo).cast("long"))
          .otherwise(0L)
      }.reduce(_ + _)
    votes.select(col("id"), half(0).as("sim_lo"), half(HalfBits).as("sim_hi"))
  }

  /** SimHash near-dup pairs: block on any shared 16-bit band (4 bands
    * over 64 bits — ≥ 65k possible ids per band, so bucket occupancy
    * grows with the corpus instead of saturating a few hundred ids),
    * keep pairs with Hamming distance <= maxHamming.
    *
    * Near-dup-dense corpora concentrate whole cliques into a few bands,
    * and the candidate self-join is quadratic in band occupancy — the
    * 10× adversarial probe showed a 69× candidate blowup at fixed
    * 16-bit bands (BASELINE.md §4). Two-stage defense, both surfaced:
    *
    *   1. occupancy-adaptive sub-banding: a band whose occupancy
    *      exceeds `refineThreshold` is refined by 8 extra bits drawn
    *      from the OTHER 32-bit half of the simhash (bands 0–1 refine
    *      with sim_hi bits, 2–3 with sim_lo), splitting one O(B²)
    *      bucket into ≤256 sub-buckets of ~B/256 — O(B²/256) pairs.
    *      Recall within a refined band only drops for pairs whose
    *      Hamming errors land in the 8 refinement bits, and those
    *      pairs usually still collide in one of the 3 other bands —
    *      strictly better than dropping the band outright.
    *   2. the hard cap: sub-buckets still above `maxBucketSize`
    *      (identical-hash cliques that no banding can split) are
    *      dropped and surfaced via the "graft.lsh.simhash" observation
    *      ([[graft.functions.Buckets]]).
    *
    * At non-adversarial occupancy (`<= refineThreshold`, all of the
    * oracle testdata) stage 1 is the identity, so the oracled d04
    * results are byte-identical with or without it. */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 6,
      maxBucketSize: Option[Int] = None,
      refineThreshold: Int = 2000): DataFrame =
    simhashPairsManaged(docs, idCol, textCol, maxHamming, maxBucketSize,
      refineThreshold)._1

  /** [[simhashPairs]] plus a release handle for the capped band cache
    * (see [[minhashLshPairsManaged]] for the call contract). */
  def simhashPairsManaged(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 6,
      maxBucketSize: Option[Int] = None,
      refineThreshold: Int = 2000): (DataFrame, () => Unit) = {
    // default cap sized to expected 16-bit-band occupancy from one
    // bounded count-star on the source (never a simhash recompute)
    val cap = maxBucketSize.getOrElse(graft.functions.Buckets.capFor(
      docs.count(), graft.functions.Buckets.BandBits))
    hashBandPairsManaged(simhashes(docs, idCol, textCol), maxHamming, cap,
      "graft.lsh.simhash", refineThreshold)
  }

  /** Banded near-dup candidate generation over ANY 64-bit locality-
    * sensitive hash held as two 32-bit halves `(id, sim_lo, sim_hi)`:
    * 16-bit-band blocking, occupancy-adaptive sub-banding above
    * `refineThreshold`, the hard hot-bucket cap, then the exact
    * Hamming filter. Text SimHash (d04) and the multimodal perceptual
    * hash (m05, [[graft.multimodal.Multimodal.perceptualHash]]) both
    * feed this — one banding machinery, every modality that can
    * produce a Hamming-space fingerprint. `metricName` labels the
    * drop-counter observation and must be query-unique. Returns the
    * pairs and a release handle for the capped band cache (see
    * [[minhashLshPairsManaged]] for the call contract). */
  def hashBandPairsManaged(hashes: DataFrame, maxHamming: Int, cap: Int,
      metricName: String, refineThreshold: Int = 2000)
      : (DataFrame, () => Unit) = {
    // persisted: the band frame feeds the occupancy aggregate plus the
    // cold and hot branch probes (Buckets.cap cost note), and its
    // parent is the full simhash/perceptual-hash derivation — without
    // the cache that hashing recomputes once per consumer
    val bands = hashes.select(col("id"), col("sim_lo"), col("sim_hi"),
      posexplode(array(
        col("sim_lo").bitwiseAND(65535L),
        shiftright(col("sim_lo"), 16).bitwiseAND(65535L),
        col("sim_hi").bitwiseAND(65535L),
        shiftright(col("sim_hi"), 16).bitwiseAND(65535L))))
      .withColumn("band",
        concat(col("pos").cast("string"), lit("|"), col("col").cast("string")))
      .drop("pos", "col")
      .persist()
    // 8 refinement bits from the opposite half: a doc's band-i bits and
    // its refinement bits never overlap, so refinement adds independent
    // discrimination instead of re-reading the bits that collided
    val sub = when(col("band").startsWith("0|"), col("sim_hi").bitwiseAND(255L))
      .when(col("band").startsWith("1|"),
        shiftright(col("sim_hi"), 8).bitwiseAND(255L))
      .when(col("band").startsWith("2|"), col("sim_lo").bitwiseAND(255L))
      .otherwise(shiftright(col("sim_lo"), 8).bitwiseAND(255L))
    // cold bands (occupancy <= threshold <= maxBucketSize) can never
    // trip the cap, so only the HOT subset pays the second occupancy
    // count — at normal occupancy that subset is empty and the whole
    // refine+cap stage reduces to the one band-key exchange the plain
    // cap always cost. The threshold clamps to the cap so a tight cap
    // (tests, paranoid callers) can never be evaded by unrefined bands.
    // Occupancy via groupBy+join, NOT a partition window: a window
    // would buffer the mega-band this split exists to break through
    // ONE WindowExec task before the split (see Buckets.cap).
    val thresh = math.min(refineThreshold, cap)
    val occ = bands.groupBy("band").agg(count(lit(1)).as("__band_occ"))
    val withOcc = bands.join(occ, Seq("band"))
    val cold = withOcc.filter(col("__band_occ") <= thresh)
      .drop("__band_occ")
    val hot = withOcc.filter(col("__band_occ") > thresh)
      .withColumn("band",
        concat(col("band"), lit("~"), sub.cast("string")))
      .drop("__band_occ")
    // persisted: the capped frame (simhash pipeline + refine + cap)
    // feeds both sides of the candidate self-join
    val kept = cold
      .unionByName(graft.functions.Buckets.cap(hot, "band", cap,
        metricName))
      .persist()
    val cand = kept.select(col("band"), col("id").as("a"),
        col("sim_lo").as("loa"), col("sim_hi").as("hia"))
      .join(kept.select(col("band"), col("id").as("b"),
        col("sim_lo").as("lob"), col("sim_hi").as("hib")), Seq("band"))
      .filter(col("a") < col("b"))
      .select("a", "b", "loa", "hia", "lob", "hib").distinct()
    val out = cand.select(col("a"), col("b"),
        (bit_count(col("loa").bitwiseXOR(col("lob"))) +
          bit_count(col("hia").bitwiseXOR(col("hib")))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
    (out, () => { bands.unpersist(); kept.unpersist(); () })
  }

  // ------------------------------------------------------ embedding cosine

  /** Embedding near-dup pairs above a cosine threshold. Local form is a
    * self-join filtered to a < b; the scale path blocks by LSH
    * (graft.vector.Ann) or a coarse quantizer before pairing. */
  /** LSH-blocked embedding near-dup: candidates limited to pairs
    * sharing any multi-table hyperplane bucket (graft.vector.Ann),
    * then exact cosine. The 100 TB path — candidate generation is a
    * bucket-key shuffle, recall governed by the table construction.
    * `planesPerTable` MUST grow with the corpus (the per-bucket join is
    * quadratic in occupancy; BASELINE.md §4 has the measured blowup at
    * a fixed 3 planes), so BY DEFAULT both the plane count and the
    * hot-bucket cap are derived from one bounded `emb.count()` —
    * [[graft.vector.Ann.planesFor]] sizes the bucket count,
    * [[graft.functions.Buckets.capFor]] the tolerated occupancy.
    * Pass Some(...) only to pin a configuration (contrast baselines,
    * oracle mirrors). Over-cap buckets are dropped and surfaced via
    * the "graft.lsh.cosine" observation. */
  def cosineNearDupPairsLsh(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", minCos: Double = 0.4,
      dim: Int = 64, planesPerTable: Option[Int] = None, nTables: Int = 8,
      maxBucketSize: Option[Int] = None, targetBucketSize: Int = 250)
      : DataFrame =
    cosineNearDupPairsLshManaged(emb, idCol, vecCol, minCos, dim,
      planesPerTable, nTables, maxBucketSize, targetBucketSize)._1

  /** [[cosineNearDupPairsLsh]] plus a release handle for the capped
    * bucket cache (see [[minhashLshPairsManaged]] for the contract). */
  def cosineNearDupPairsLshManaged(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", minCos: Double = 0.4,
      dim: Int = 64, planesPerTable: Option[Int] = None, nTables: Int = 8,
      maxBucketSize: Option[Int] = None, targetBucketSize: Int = 250)
      : (DataFrame, () => Unit) = {
    // one bounded driver action (count-star) sizes whichever of the
    // two knobs the caller left to the corpus; skipped when both given
    lazy val n = emb.count()
    val planes = planesPerTable.getOrElse(
      graft.vector.Ann.planesFor(n, targetBucketSize))
    val cap = maxBucketSize.getOrElse(
      graft.functions.Buckets.capFor(n, planes))
    // two persists: the RAW bucket frame (the occupancy cap reads it
    // twice — Buckets.cap cost note — and bucket derivation IS the
    // hyperplane hashing) and the capped frame (feeds both sides of
    // the candidate self-join)
    val raw = graft.vector.Ann
      .withLshBuckets(emb, vecCol, dim, planes, nTables)
      .select(col(idCol).as("id"), col("bucket"))
      .persist()
    val buckets = graft.functions.Buckets.cap(
      raw, "bucket", cap, "graft.lsh.cosine").persist()
    val cand = buckets.select(col("bucket"), col("id").as("a"))
      .join(buckets.select(col("bucket"), col("id").as("b")), Seq("bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val normed = emb
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", VectorFns.norm(col("v")))
      .select(col("id"), VectorFns.normalized(col("v"), col("nrm")).as("vn"))
    val out = cand
      .join(normed.select(col("id").as("a"), col("vn").as("va")), Seq("a"))
      .join(normed.select(col("id").as("b"), col("vn").as("vb")), Seq("b"))
      .select(col("a"), col("b"),
        round(VectorFns.dot(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= minCos)
    (out, () => { raw.unpersist(); buckets.unpersist(); () })
  }

  def cosineNearDupPairs(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", minCos: Double = 0.4): DataFrame = {
    // normalize once per vector (n folds), so each of the n² pairs
    // costs exactly one dot fold
    val normed = emb
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", VectorFns.norm(col("v")))
      .select(col("id"), VectorFns.normalized(col("v"), col("nrm")).as("vn"))
    val a = normed.select(col("id").as("a"), col("vn").as("va"))
    val b = normed.select(col("id").as("b"), col("vn").as("vb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(VectorFns.dot(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
