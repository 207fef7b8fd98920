package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT global ranks — the scale-safe replacement for
  * `row_number() OVER (ORDER BY ...)` with no PARTITION BY, whose
  * physical plan funnels the whole input through ONE task (the r09
  * perf-weak finding on q179/q175; q90 dodged it with value-based
  * deciles, but deciles aren't ranks).
  *
  * Two-pass bucket scheme:
  *   1. `approx_percentile` cut points (B-1 doubles, broadcast) assign
  *      each row a bucket = count of cuts strictly below its value — a
  *      pure projection, and a pure FUNCTION OF THE VALUE, so ties
  *      never straddle a bucket boundary and the (tiny) approximation
  *      error in the cut points only moves bucket BOUNDARIES, never
  *      ranks: per-bucket offsets are exact counts and within-bucket
  *      ranks are exact sorts, so the result is bit-identical no
  *      matter where the sketch put the cuts.
  *   2. per-bucket row counts (B rows) → prefix-sum offsets (a window
  *      over B rows — trivially small) broadcast back; rank = offset +
  *      local rank within the bucket (`Window.partitionBy(bucket)`,
  *      which hash-distributes across the cluster instead of
  *      single-tasking).
  *
  * Cost: one narrow sketch aggregate + one fact shuffle (hash by
  * bucket) — the same shuffle count as the single-partition window,
  * with ~1/B of the data per task instead of all of it.
  *
  * Caveats (documented, by design): `valueCol` must be non-null
  * (callers filter — null buckets would drop in the equi-join); a
  * near-CONSTANT column degenerates to one bucket (at that extreme
  * ranks are meaningless anyway — use [[Sketches.histogramQuantiles]]).
  *
  * Reference count (the iteration-lineage rule): each call reads its
  * input THREE times — the cut-point sketch (collected EAGERLY at
  * call time, see below), the bucket counts, and the ranked join. An
  * input that is itself an expensive plan should be persisted/
  * checkpointed by the CALLER first (rfmSegments checkpoints its
  * rollup — measured 12 s → ~2 s at sf0.1; a cheap scan-projection
  * like q185's is fine to re-derive).
  *
  * Cut-point consistency: `approx_percentile`'s final merge is
  * shuffle-fetch-order-sensitive, so leaving the sketch as a lazy
  * broadcast subquery lets the TWO references of the bucketed frame
  * (counts vs join) each re-evaluate it and potentially see slightly
  * DIFFERENT cut arrays — offsets computed against one boundary set,
  * rows bucketed against another → silently duplicated/skipped ranks.
  * The cuts are therefore collected ONCE to the driver (a 1-row,
  * ≤(B-1)-double result) and inlined as a literal array every
  * reference shares. This makes each rank call eager — acceptable: a
  * rank is always terminal-ish, and the collected payload is bytes.
  */
object Ranks {

  /** Exact global `row_number` ordered by `valueCol` (asc/desc) with
    * `tiebreaks` (ascending) making the order total — appended as
    * column `out`. Same result as a global window, scale-safe plan.
    */
  def rowNumber(df: DataFrame, valueCol: String, ascending: Boolean,
                tiebreaks: Seq[String], out: String = "rn",
                buckets: Int = 64): DataFrame = {
    val bucketed = withBucket(df, valueCol, ascending, buckets)
    val counts = bucketed.groupBy(col("__b"))
      .agg(count(lit(1)).as("__cnt"))
    val ord = orderCol(valueCol, ascending) +:
      tiebreaks.map(c => col(c).asc)
    bucketed.join(broadcast(offsets(counts)), Seq("__b"))
      .withColumn(out, col("__off") +
        row_number().over(Window.partitionBy(col("__b")).orderBy(ord: _*)))
      .drop("__b", "__off")
  }

  /** Exact global MIN-rank of each distinct value (ties share the rank
    * of their first row) from a PRE-AGGREGATED `(valueCol, countCol)`
    * table of distinct values and their multiplicities: returns
    * `(valueCol, out)` for joining back onto the facts — the shape
    * CDF/quantile-normalization wants. The fact table never sorts at
    * all: only distinct values flow through the bucket scheme.
    */
  def minRankOfCounts(vals: DataFrame, valueCol: String, countCol: String,
                      ascending: Boolean = true, out: String = "rank",
                      buckets: Int = 64): DataFrame = {
    val bucketed = withBucket(vals, valueCol, ascending, buckets)
    val counts = bucketed.groupBy(col("__b"))
      .agg(sum(col(countCol)).as("__cnt"))
    val w = Window.partitionBy(col("__b"))
      .orderBy(orderCol(valueCol, ascending))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offsets(counts)), Seq("__b"))
      .withColumn(out,
        lit(1L) + col("__off") +
          coalesce(sum(col(countCol)).over(w), lit(0L)))
      .select(col(valueCol), col(out))
  }

  /** [[rowNumber]] generalized to a NON-NUMERIC total order: `ord` is
    * the full ordering (must be total — append tiebreaks), `key` any
    * numeric column that is a MONOTONE NON-DECREASING function of the
    * ordering's leading component (equal leading values ⇒ equal keys).
    * Monotonicity means a bucket boundary can only fall BETWEEN order-
    * distinct keys, and ties-share-a-key means ties never straddle —
    * the same exactness argument as the numeric path, so the result is
    * bit-identical to the single-partition window regardless of key
    * precision loss (rounding to double is itself monotone).
    *
    * The string case: [[stringPrefixKey]] (7-byte big-endian prefix as
    * a number, zero-padded so shorter-prefix strings key lower) is
    * monotone w.r.t. Spark's binary UTF-8 string order — used by
    * [[graft.text.Linkage.sortedNeighborhoodPairs]].
    */
  def rowNumberKeyed(df: DataFrame, key: Column, ord: Seq[Column],
                     out: String = "rn", buckets: Int = 64): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val cuts = materializedCuts(df, key, buckets)
    val bucketed = df.withColumn("__b",
      size(filter(typedLit(cuts), c => key > c)))
    val counts = bucketed.groupBy(col("__b"))
      .agg(count(lit(1)).as("__cnt"))
    bucketed.join(broadcast(offsets(counts)), Seq("__b"))
      .withColumn(out, col("__off") +
        row_number().over(Window.partitionBy(col("__b")).orderBy(ord: _*)))
      .drop("__b", "__off")
  }

  /** Distributed EXACT global EXCLUSIVE prefix sum of `weightCol` in
    * the total order (`valueCol` asc/desc, `tiebreaks` asc) — appended
    * as column `out`: for each row, the sum of weights of all rows
    * strictly before it. The scale-safe replacement for
    * `sum(w) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING TO 1
    * PRECEDING)`, which single-tasks the corpus exactly like the
    * global row_number this file exists to kill.
    *
    * Same two-pass bucket scheme as [[rowNumber]] — per-bucket WEIGHT
    * totals (not row counts) prefix-summed over the B-row table, plus
    * a within-bucket running sum windowed per bucket — and the same
    * exactness argument: buckets are a pure function of the value, so
    * ties never straddle and the sketch error only moves boundaries.
    * Weights are summed as LONG (token counts, byte sizes — the
    * integral quantities packing cares about); `weightCol` must be
    * non-negative for the "offsets are monotone" reading but the sum
    * itself is exact either way.
    */
  def prefixSum(df: DataFrame, valueCol: String, weightCol: String,
                ascending: Boolean = true,
                tiebreaks: Seq[String] = Seq.empty,
                out: String = "prefix", buckets: Int = 64): DataFrame = {
    val bucketed = withBucket(df, valueCol, ascending, buckets)
    val sums = bucketed.groupBy(col("__b"))
      .agg(sum(col(weightCol).cast("long")).as("__cnt"))
    val ord = orderCol(valueCol, ascending) +: tiebreaks.map(c => col(c).asc)
    val w = Window.partitionBy(col("__b")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offsets(sums)), Seq("__b"))
      .withColumn(out, col("__off") +
        coalesce(sum(col(weightCol).cast("long")).over(w), lit(0L)))
      .drop("__b", "__off")
  }

  /** Exact SQL `NTILE(k)` in the total order (`valueCol` asc/desc,
    * `tiebreaks` asc) — appended as column `out` — on [[rowNumber]]'s
    * bucket scheme instead of the single-task global window the
    * built-in `ntile` compiles to (the same funnel this file exists to
    * kill; `Gold.rfmSegments` and q90 both dodged NTILE for that
    * reason — this is the direct replacement when tile SEMANTICS, not
    * just quantile cuts, are required). Standard tile placement: with
    * n rows, the first `n mod k` tiles take `ceil(n/k)` rows, the rest
    * `floor(n/k)` — derived from the exact global row number and the
    * total count with LONG integer arithmetic only, so the result is
    * bit-identical to `ntile(k) OVER (ORDER BY ...)` whenever the
    * order is total (append tiebreaks to make it so; NTILE over a
    * non-total order is engine-defined tie placement). The count rides
    * a 1-row broadcast aggregate — no driver collect, one extra narrow
    * pass over the input beyond [[rowNumber]]'s three (callers with an
    * expensive input persist it first, per the class contract).
    */
  def ntile(df: DataFrame, k: Int, valueCol: String,
            ascending: Boolean = true, tiebreaks: Seq[String] = Seq.empty,
            out: String = "tile", buckets: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ranked = rowNumber(df, valueCol, ascending, tiebreaks, "__rn", buckets)
    val n = df.groupBy().agg(count(lit(1)).as("__n"))
    // r = 0-based rank; big tiles (size q+1) cover the first rem*(q+1)
    // rows. greatest(q, 1) keeps the never-taken ELSE branch safe from
    // ANSI div-by-zero when n < k (codegen evaluates both arms).
    val tile = s"""CASE
      | WHEN (__rn - 1) < (__n % $k) * ((__n div $k) + 1)
      |  THEN (__rn - 1) div ((__n div $k) + 1)
      | ELSE (__n % $k) +
      |  ((__rn - 1) - (__n % $k) * ((__n div $k) + 1))
      |    div greatest(__n div $k, 1)
      | END + 1""".stripMargin
    ranked.crossJoin(broadcast(n))
      .withColumn(out, expr(tile).cast("long"))
      .drop("__rn", "__n")
  }

  /** [[rowNumber]] PER GROUP, for LOW-CARDINALITY group columns over
    * fact-scale rows — the shape `row_number() OVER (PARTITION BY
    * group ORDER BY value)` funnels through #groups tasks when groups
    * are few and huge (5 event types over 10^12 rows = 5 tasks doing
    * everything; the partitioned window only distributes when groups
    * are MANY). Scheme: per-group approx_percentile cuts (ONE grouped
    * aggregate, collected eagerly — the [[rowNumber]] cut-consistency
    * rule — and re-broadcast as a #groups-row join table), bucket =
    * count of own-group cuts below the value (pure projection, pure
    * function of (group, value) so ties never straddle), exact
    * per-(group, bucket) counts prefix-summed per group over the
    * (#groups × B)-row table, local window per (group, bucket).
    *
    * CONTRACT: `groupCol` must be low-cardinality (the cut collect is
    * #groups × (B-1) doubles — thousands of groups are fine, a
    * fact-scale key column is not: there the plain partitioned window
    * already distributes and this scheme buys nothing). Group and
    * value must be non-null (null groups drop in the cuts equi-join;
    * null values in the bucket lambda — callers filter).
    */
  def rowNumberGrouped(df: DataFrame, groupCol: String, valueCol: String,
                       ascending: Boolean = true,
                       tiebreaks: Seq[String] = Seq.empty,
                       out: String = "rn", buckets: Int = 64): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val spark = df.sparkSession
    val v = col(valueCol).cast("double")
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val cutRows = df.groupBy(col(groupCol))
      .agg(approx_percentile(v, typedLit(qs), lit(10000)).as("__cuts"))
      .collect()
    val cutSchema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(groupCol),
      org.apache.spark.sql.types.StructField("__cuts",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val cutsDf = spark.createDataFrame(
      java.util.Arrays.asList(cutRows: _*), cutSchema)
    val bucketed = df.join(broadcast(cutsDf), Seq(groupCol))
      .withColumn("__b", size(filter(
        coalesce(col("__cuts"), array().cast("array<double>")),
        c => if (ascending) v > c else v < c)))
      .drop("__cuts")
    val counts = bucketed.groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__cnt"))
    // per-group exclusive prefix over ≤ #groups × B rows — tiny
    val offs = counts.withColumn("__off",
        coalesce(sum(col("__cnt")).over(
          Window.partitionBy(col(groupCol)).orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(groupCol), col("__b"), col("__off"))
    val ord = orderCol(valueCol, ascending) +: tiebreaks.map(c => col(c).asc)
    bucketed.join(broadcast(offs), Seq(groupCol, "__b"))
      .withColumn(out, col("__off") +
        row_number().over(
          Window.partitionBy(col(groupCol), col("__b")).orderBy(ord: _*)))
      .drop("__b", "__off")
  }

  /** Exact per-group PERCENTILE_DISC for every prob in `probs`: the
    * smallest value whose cumulative row count reaches `ceil(q·n_g)`
    * in the (value asc, tiebreaks asc) total order — one tiny
    * `(group, prob, value)` row per pair. Built on
    * [[rowNumberGrouped]] (same low-cardinality-group contract):
    * target ranks are computed per group from exact counts in DECIMAL
    * (a double `q·n` can land an ulp above an exact integer and ceil
    * off by one), then a broadcast equi-join on `(group, rank)` picks
    * the winners — no fact-scale row is amplified or re-sorted.
    * Probs must lie in (0, 1] with at most 10 decimal digits.
    */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                       probs: Seq[Double],
                       tiebreaks: Seq[String] = Seq.empty,
                       buckets: Int = 64): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      s"probs must be in (0, 1], got $probs")
    val spark = df.sparkSession
    val ranked = rowNumberGrouped(df, groupCol, valueCol,
      ascending = true, tiebreaks = tiebreaks, out = "__rn",
      buckets = buckets)
    val n = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val probsDf = spark.createDataFrame(probs.map(Tuple1(_))).toDF("prob")
      .withColumn("__pd", col("prob").cast("decimal(20,10)"))
    val targets = n.crossJoin(probsDf)
      .select(col(groupCol).as("__g"), col("prob"),
        ceil(col("__pd") * col("__n")).cast("long").as("__t"))
    ranked.join(broadcast(targets),
        col(groupCol) === col("__g") && col("__rn") === col("__t"))
      .select(col(groupCol), col("prob"), col(valueCol))
  }

  /** Order-preserving numeric key for a string under Spark's binary
    * UTF-8 collation: the first 7 bytes big-endian as an integer, hex
    * right-padded with zeros so that a string that is a strict prefix
    * of another keys strictly lower (0x00 ≤ every byte). 7 bytes
    * (2^56) exceeds double's 2^53 exact range, but double rounding is
    * monotone, so order is preserved — colliding keys just share a
    * bucket, which [[rowNumberKeyed]]'s contract allows.
    */
  def stringPrefixKey(c: Column): Column =
    conv(rpad(hex(substring(c.cast("binary"), lit(1), lit(7))),
      14, "0"), 16, 10).cast("double")

  private def orderCol(valueCol: String, ascending: Boolean): Column =
    if (ascending) col(valueCol).asc else col(valueCol).desc

  /** The cut points, evaluated ONCE (driver-collected; see the
    * class scaladoc's consistency note). Null (empty input) → no cuts
    * → everything in bucket 0, which degrades to the plain window.
    */
  private def materializedCuts(df: DataFrame, key: Column,
                               buckets: Int): Seq[Double] = {
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val row = df.agg(
      approx_percentile(key, typedLit(qs), lit(10000)).as("__cuts")).head()
    if (row.isNullAt(0)) Seq.empty[Double]
    else row.getSeq[Double](0).toSeq
  }

  /** Bucket id in rank order: the count of cut points strictly before
    * the value in the chosen direction. Cast to double for the sketch
    * only — two decimals colliding in double just share a bucket,
    * which stays a pure function of the value.
    */
  private def withBucket(df: DataFrame, valueCol: String,
                         ascending: Boolean, buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val v = col(valueCol).cast("double")
    val cuts = materializedCuts(df, v, buckets)
    df.withColumn("__b",
      size(filter(typedLit(cuts), c => if (ascending) v > c else v < c)))
  }

  /** Prefix-sum offsets over the (≤ buckets)-row count table — the one
    * place a single-partition window is CORRECT: B rows, not the facts.
    * Package-visible: [[Sample.curriculumOrder]]'s fused second pass
    * reuses it over its own pure-projection buckets.
    */
  private[operators] def offsets(counts: DataFrame): DataFrame =
    counts.withColumn("__off",
        coalesce(sum(col("__cnt")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
}
