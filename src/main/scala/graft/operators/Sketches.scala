package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-prefiltered EXACT aggregation — the pattern that turns an
  * approximate sketch into an exact answer at sketch cost.
  *
  * The naive exact heavy-hitter query (`GROUP BY key HAVING count >=
  * t`) shuffles every distinct key: at 100 TB of tokens that exchange
  * carries the full vocabulary — billions of near-unique keys — to
  * find the handful of heavy ones. A Count-Min sketch inverts the
  * cost: fixed size (depth × width counters, independent of N),
  * mergeable map-side, and one-sided — it can only OVERestimate a
  * count, never underestimate. So `estimate >= t` keeps every truly
  * heavy key (no false negatives, only false-positive candidates),
  * and an exact count of just the candidate rows both prunes the
  * false positives and replaces the estimates with true counts. The
  * output is therefore EXACTLY the naive query's — oracle-checkable
  * against plain SQL, unlike a raw sketch readout — while only rows
  * whose key passes the probe ever shuffle.
  */
object Sketches {

  /** Exact `(key, n)` rows for every non-null key occurring at least
    * `minCount` times, computed as CMS-prefilter + exact rescore.
    * EAGER: the sketch (fixed-size; ~1.1 MB at the defaults) is
    * materialized on the driver here and handed to the probe as an
    * expression constructor FIELD — the same shape as
    * [[graft.text.CorpusClean.decontaminateBloom]], and for the same
    * measured reasons: as a field it hashes by identity instead of the
    * O(length)-per-tree-hash a multi-MB `Literal` node costs every
    * analyzer/AQE rule, and the probe caches one deserialized sketch
    * per JVM (see [[graft.functions.CmsProbe]]).
    *
    * The pattern is inherently TWO passes over `df` — one to build the
    * sketch, one to probe + rescore — so with `persistInput = true`
    * (default) the input is persisted across them and the (tiny) heavy
    * key set eagerly checkpointed so the cache can be dropped before
    * returning: a derived input (tokenize → ngram → explode, q122's
    * shape) is computed ONCE, not once per pass — at 100 TB the
    * redundant tokenize pass is real money. Pass `persistInput =
    * false` when `df` is a bare columnar scan that is cheaper to
    * re-scan than to cache, which also keeps the result lazy. NOTE:
    * `persistInput = true` makes this call EAGER (the sketch build and
    * the checkpoint both run inside the call) — callers composing lazy
    * pipelines should pass `false`. If the caller ALREADY persisted
    * `df`, this call leaves that cache alone (no re-persist, no
    * unpersist): it only frees a cache entry it created itself.
    *
    * Key column must be bigint or string (the types the probe and
    * Spark's `count_min_sketch` aggregate hash identically). Null keys
    * are excluded, matching `GROUP BY ... HAVING` twins that filter
    * nulls.
    *
    * `eps` bounds the overestimate: with probability `confidence`,
    * estimate <= true + eps·TOTAL rows. False positives start costing
    * shuffle volume when eps·total approaches minCount, so for very
    * low thresholds over very large corpora, shrink eps (sketch width
    * grows as 2/eps — still independent of the corpus).
    */
  def heavyHitters(df: DataFrame, keyCol: String, minCount: Long,
                   eps: Double = 1e-4, confidence: Double = 0.99,
                   seed: Int = 42, persistInput: Boolean = true): DataFrame = {
    require(minCount > 0, s"minCount must be positive, got $minCount")
    val key = col(keyCol)
    // Persist only if the caller hasn't: re-persisting an already-cached
    // Dataset is a no-op in Spark (warn + keep existing level), so an
    // unconditional unpersist below would silently drop the CALLER's
    // cache entry. Track whether this call owns the persist.
    val ownsPersist = persistInput && df.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE
    val in =
      if (ownsPersist)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val sketch: Array[Byte] = in
      .agg(call_function("count_min_sketch",
        key, lit(eps), lit(confidence), lit(seed)).as("__graft_cms"))
      .head.getAs[Array[Byte]](0)
    val out = in.filter(key.isNotNull &&
        graft.functions.CmsProbe.of(sketch, key) >= minCount)
      .groupBy(key).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    if (ownsPersist) {
      // Materialize off the cache, then free it (eager result,
      // truncated lineage, blocks live until GC). Only runs when WE
      // created the cache — a caller-owned cache is left for the
      // caller to manage.
      val ckpt = out.localCheckpoint(true)
      in.unpersist()
      ckpt
    } else out
  }

  /** Fixed-state approximate quantiles: equi-width histogram + linear
    * interpolation within the selected bin. Exact percentiles sort (or
    * at best shuffle per-group value multisets); this is TWO scans with
    * `bins` counters of state — pass one for (min, max, n) (riding
    * along as a one-row cross join, no driver collect), pass two for
    * exact integer bin counts — and the quantile walk runs on `bins`
    * rows. Error is bounded by one bin width, (max-min)/bins; bin-count
    * tables with a SHARED (min, max, bins) frame merge by addition
    * (register-style), which is what a per-day rollup wants.
    *
    * Fully deterministic, no transcendental: bin assignment, the
    * cumulative walk, and the interpolation are IEEE arithmetic
    * replayed in the SQL twin's operand order; a constant column
    * (max == min) short-circuits to that constant.
    */
  def histogramQuantiles(df: DataFrame, valueCol: String, bins: Int,
                         ps: Seq[Double]): DataFrame = {
    require(bins >= 2 && bins <= 100000, s"bins out of range: $bins")
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantiles must be in (0, 1]: $ps")
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol)
    val in = df.filter(v.isNotNull)
    val st = in.agg(min(v).as("mn"), max(v).as("mx"),
      count(lit(1)).as("n"))
    val width = (col("mx") - col("mn")) / lit(bins)
    // the mx == mn guard keeps ANSI mode from tripping on 0/0 for a
    // constant column (CASE branches evaluate lazily per row)
    val counts = in.crossJoin(st)
      .select(when(col("mx") === col("mn"), lit(0L))
        .otherwise(least(floor((v - col("mn")) / width),
          lit((bins - 1).toLong)))
        .as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))
    // <= bins rows: the single-partition cumulative window is bounded
    // by construction, same contract as the calendar-bounded rollups
    val cum = counts.withColumn("cum",
      sum(col("c")).over(org.apache.spark.sql.expressions.Window
        .orderBy("bin").rowsBetween(Long.MinValue, 0)))
      .withColumn("cumb", col("cum") - col("c"))
    val sel = ps.toDF("p").crossJoin(cum).crossJoin(st)
      .filter(col("cum") >= col("p") * col("n"))
      .withColumn("__rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("p").orderBy("bin")))
      .filter(col("__rn") === 1)
    sel.select(col("p"),
      round(when(col("mx") === col("mn"), col("mn"))
        .otherwise(col("mn") + width *
          (col("bin") + (col("p") * col("n") - col("cumb")) / col("c"))), 9)
        .as("q"))
  }

  /** Window width (bits) of the rho hash of the portable HLL below. */
  private[graft] val HllW = 24

  /** Position of the highest set bit of the `HllW`-bit window `w`,
    * counted from the top (1 = top bit set), 25 for w = 0 — HLL's
    * rho(w), built as an integer-compare CASE chain. log2-free on
    * purpose: `floor(log(w)/log(2))` misclassifies exact powers of two
    * when the libm quotient lands one ulp under the integer, and the
    * SQL twin replays the same 24 exact comparisons instead.
    */
  private[graft] def hllRho(w: Column): Column =
    (2 to HllW).foldLeft(when(w >= lit(1L << (HllW - 1)), lit(1))) {
      (acc, r) => acc.when(w >= lit(1L << (HllW - r)), lit(r))
    }.otherwise(lit(HllW + 1))

  /** Flajolet et al.'s alpha_m bias constant. */
  private[graft] def hllAlpha(m: Long): Double =
    if (m <= 16L) 0.673 else if (m <= 32L) 0.697 else if (m <= 64L) 0.709
    else 0.7213 / (1.0 + 1.079 / m)

  /** PORTABLE HyperLogLog register table over a key column: (bucket,
    * r) with `r` = max rho per bucket — the distinct-count sketch as
    * data. One map-side-combining aggregate of `m = 2^bucketBits`
    * groups, independent of N: THE cardinality primitive at 100 TB
    * (exact countDistinct shuffles every distinct key). MERGEABLE like
    * every sketch here: union register tables from any corpus split /
    * day / source and re-`groupBy(bucket).max(r)` — the unit proves
    * merge == whole-corpus registers.
    *
    * Portable = bucket (16 hash bits mod m — exact-uniform for any
    * power-of-two m <= 2^16) and the rho window (the next 24 bits)
    * derive from `md5(cast(key as string))`, which is bit-identical in
    * every engine, so the ENTIRE sketch — registers and estimate —
    * replays in plain SQL and the oracle compares exactly, where an
    * xxhash64 sketch is rows-only. (The repo's two-round multiplicative
    * id hash is NOT usable here: its final odd-multiplier round only
    * permutes residues mod a power of two, so low-bit buckets inherit
    * the id lattice — measured 25/64 occupancy on 150 consecutive ids —
    * and HLL needs avalanche in every bit it reads.) Production swaps
    * md5 for xxhash64 when the per-row crypto hash shows up in
    * profiles (one line; loses SQL replay, keeps this algebra).
    *
    * `salt` decorrelates independent sketches of the same keys. Null
    * keys are excluded (countDistinct semantics).
    */
  def hllRegisters(df: DataFrame, keyCol: String, bucketBits: Int = 6,
                   salt: String = ""): DataFrame = {
    require(bucketBits >= 4 && bucketBits <= 16,
      s"bucketBits must be in [4, 16], got $bucketBits")
    val key = col(keyCol)
    val h = md5(concat(key.cast("string"), lit(salt)))
    val bucket = conv(substring(h, 1, 4), 16, 10).cast("long") %
      lit(1L << bucketBits)
    val w = conv(substring(h, 5, 6), 16, 10).cast("long")
    df.filter(key.isNotNull)
      .select(bucket.as("bucket"), hllRho(w).as("rho"))
      .groupBy("bucket").agg(max("rho").as("r"))
  }

  /** The HLL cardinality estimate off [[hllRegisters]]: one row
    * `(m, nonzero, estimate)`. The indicator sum is computed in EXACT
    * integer arithmetic — `sum 2^-r = 2^-(W+1) * sum 2^(W+1-r)` with
    * the inner sum a bigint (every term a power of two down to r's
    * maximum W+1, no float-order dependence) — so the raw estimate is
    * a single deterministic
    * division; the small-range linear-counting branch (E <= 2.5m with
    * empty registers) is the one `ln`, rounded at 9 dp like every
    * transcendental in the repo. Standard error ~1.04/sqrt(m) (~13% at
    * the default m = 64; raise bucketBits for tighter).
    */
  def hllEstimate(df: DataFrame, keyCol: String, bucketBits: Int = 6,
                  salt: String = ""): DataFrame =
    hllEstimateFromRegisters(hllRegisters(df, keyCol, bucketBits, salt),
      bucketBits)

  /** The register→estimate algebra of [[hllEstimate]], exposed for
    * sketches that arrive as DATA — merged register tables from corpus
    * splits, days, or a streaming sink's accumulated `batch=` dirs.
    * `regs` may carry duplicate buckets (a raw union of sub-sketches);
    * they are re-maxed here first.
    */
  def hllEstimateFromRegisters(regs: DataFrame, bucketBits: Int): DataFrame = {
    val m = 1L << bucketBits
    val alpha = hllAlpha(m)
    val zeros = lit(m) - col("nz")
    val isum = col("isum0") + zeros * lit(1L << (HllW + 1))
    val eraw = lit(alpha) * lit((m * m).toDouble) *
      lit((1L << (HllW + 1)).toDouble) / isum
    regs.groupBy("bucket").agg(max("r").as("r"))
      .agg(count(lit(1)).as("nz"),
        sum(expr(s"cast(1 as bigint) << (${HllW + 1} - r)")).as("isum0"))
      .select(lit(m).as("m"), col("nz").as("nonzero"),
        round(
          when(zeros > 0 && eraw <= lit(2.5 * m),
            lit(m.toDouble) * log(lit(m.toDouble) / zeros))
            .otherwise(eraw), 9).as("estimate"))
  }
}
