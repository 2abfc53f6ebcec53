package graft.functions

import org.apache.spark.sql.DataFrame

/** Input-skew guard for CPU-heavy per-row operators (optimization
  * guide §2.5: "one huge unsplittable file … repartition immediately
  * after the read").
  *
  * The failure shape this closes: a parquet file written as ONE row
  * group cannot be split mid-group, so however many byte-range splits
  * `spark.sql.files.maxPartitionBytes` cuts, every row lands in the
  * single task that owns the group's first byte — and the expensive
  * map-side work stacked on the scan (shingle explodes + md5 minima,
  * per-char gram hashing, per-word polynomial hash folds) runs at
  * parallelism ONE while the other cores idle. Measured on the bench
  * corpus (every table is a single row group): the d12 gram stage ran
  * 3.3 s in one task of a 10-task stage, t34's weight scan 6.4 s,
  * d04's word-hash scan 3.2 s.
  *
  * The fix is the guide's: one round-robin repartition of the compact
  * input (ids + text — the cheap bytes) BEFORE the expensive per-row
  * expansion, sized to the session's shuffle parallelism.
  *
  * The gate is a plan-STATS probe, not a partition-count probe: the
  * repartition applies only when the optimizer's size estimate is at
  * most one full wave of maximum-size scan splits
  * (`spark.sql.files.maxPartitionBytes × spark.sql.shuffle.partitions`)
  * — i.e. when the whole input is small enough that the extra
  * exchange is cheap insurance against a degenerate layout. A
  * well-laid-out table at 100 TB blows past the threshold and never
  * pays the shuffle (its scan is already parallel); so do frames
  * whose size the optimizer cannot bound (conservative huge
  * defaults). Scale-adaptive by construction: both factors ride
  * session conf, not a constant tuned to this host. Reading plan
  * stats costs one logical optimization of the input subtree — no
  * physical planning, no codegen, no job (an earlier `.rdd`-based
  * partition probe compiled a throwaway physical plan per call).
  *
  * Semantics: round-robin repartition changes row placement only.
  * Every consumer below the spread aggregates with order-insensitive
  * exact arithmetic (min/max/count/BIGINT sums/exact DECIMAL sums) or
  * row-local expressions, so results are bit-identical — re-verified
  * hash-exact against the DuckDB oracle after the change.
  */
object Spread {
  /** CALL-SITE CONTRACT: apply to scan-/cache-rooted frames
    * (base-table reads, micro-batch frames, persisted caches, or
    * projections/filters over those) — the frames whose size stats
    * are meaningful and whose optimization is cheap. Every registered
    * call site is shuffle-free above the probe. */
  def across(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val waveCap = conf.numShufflePartitions
    val floor = BigInt(conf.filesMaxPartitionBytes)
    val cheap = floor * waveCap
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // floor: an input that fits in ONE scan split is too small for the
    // exchange to pay for itself — measured +3 s on st16/st25, whose
    // per-micro-batch frames are a few hundred KB and re-enter this
    // probe once per batch; a single task IS the right plan there.
    // ceiling: see class doc (a well-laid-out big table never pays).
    if (size > floor && size <= cheap) {
      // PROPORTIONAL target, not always the full wave: repartitioning
      // a 2-split-sized input into `numShufflePartitions` pieces
      // trades the skew it cures for per-task/exchange overhead — the
      // r17 8-vs-32-core scaling leg measured the most-spread queries
      // FASTER at 8 cores (d03 0.32x, t37 0.42x). But one partition
      // per SCAN split is too coarse the other way: these call sites
      // exist because the per-row work above them is CPU-amplified
      // 10–100x over scan cost (shingle explodes, per-char gram
      // hashing), so the spread unit is a FRACTION of a scan split
      // (maxPartitionBytes / workFactor; measured sweep in
      // OPTIMIZATION_r18.md pins the default). `size > floor`
      // guarantees at least workFactor partitions; the wave cap and
      // the floor/ceiling gates are unchanged.
      df.repartition(parts(size, floor, WorkFactor, waveCap))
    } else df
  }

  /** Spread unit = `floor / div` bytes; the partition count covers
    * `size` in units, capped at `waveCap` — clamped in BigInt, so a
    * multi-GB input with a 1-byte unit cannot wrap a negative Int. */
  private[graft] def parts(size: BigInt, floor: BigInt, div: Int,
      waveCap: Int): Int = {
    val unit = (floor / div).max(BigInt(1))
    ((size + unit - 1) / unit).min(BigInt(waveCap)).toInt
  }

  /** `SPARK_GRAFT_SPREAD_DIV`, validated once. Default 16 from the
    * measured sweep (OPTIMIZATION_r18.md): at sf0.1/local[32],
    * workFactor 16 beat both the r17 full-wave target (d03 2.34 vs
    * 2.54 s, t34 2.37 vs 2.42, t30 1.80 vs 1.95) and the
    * one-partition-per-split literal (d03 4.61, t34 4.65 — starves the
    * CPU-amplified consumers). Env-overridable for re-tuning on other
    * hosts; everything else stays derived from session conf. */
  private[graft] def parseDiv(raw: Option[String]): Int = {
    val div = raw.fold(16)(v => v.trim.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_SPREAD_DIV must be an integer, got '$v'")))
    require(div >= 1, s"SPARK_GRAFT_SPREAD_DIV must be >= 1, got $div")
    div
  }

  private lazy val WorkFactor = parseDiv(sys.env.get("SPARK_GRAFT_SPREAD_DIV"))
}
