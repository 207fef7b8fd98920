package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.text.TextOps

/** STATEFUL incremental exact near-dup (the standing-pipeline form of
  * [[NearDup.incrementalPrefixFilterPairs]]): the ordering statistics
  * and the prefix index live in persisted, upsertable tables, so a
  * daily batch costs O(batch + touched buckets) instead of
  * re-aggregating shingle frequencies over the accumulated union —
  * which at 100 TB is an O(corpus) scan, window sort included, per
  * append (the measured super-linear term in the stateless form's
  * scaling decade).
  *
  * Correctness story — why a FROZEN order is exact: the prefix-filter
  * theorem (Chaudhuri et al. 2006) needs both sets' prefixes chosen
  * under ONE shared total order on grams; it does NOT need that order
  * to be the current corpus frequency — rarest-first is purely a
  * candidate-count heuristic. So the state freezes the order at build
  * time: gram g sorts by `(freq_at_build(g), g)`, with grams unseen at
  * build taking frequency 0 (they are new, hence rare — sorting them
  * first is both consistent and selective, and the `g` tiebreak keeps
  * the order total). Every doc ever indexed — base at build, every
  * later batch — computes its prefix under this same fixed function of
  * g, so the shared-order requirement holds across arbitrarily many
  * appends and recall stays exactly 1 (up to the explicit
  * `maxBucketSize` drop, the same documented trade as the stateless
  * form). Selectivity drifts only as far as the corpus's frequency
  * distribution drifts from the build snapshot — Zipf heads are
  * stable; a periodic offline rebuild ([[build]]) refreshes the order
  * and the index atomically when it matters.
  *
  * State shape (both caller-persisted — parquet in the tests, bucketed
  * tables in deployment):
  *  - `stats(g, __f, __b)`: `__f` = doc-frequency at build (FROZEN —
  *    this column IS the order; merging later counts into it would
  *    silently break the shared-order proof), `__b` = current prefix-
  *    index occupancy per gram, kept exact by [[applyDelta]]'s merge
  *    so the bucket cap reads O(1) per gram instead of re-counting the
  *    index.
  *  - `index(idCol, g)`: the prefix rows of every indexed doc —
  *    APPEND-ONLY (a batch adds its own prefix rows and touches
  *    nothing else).
  *
  * Per-batch plan (all O(batch + touched)): shingle the batch; one
  * equi-join against `stats` for the frozen order (bucketed-by-g
  * deployment: map-side); a batch-sized window for prefix selection;
  * the candidate join probes the index SEMI-JOINED to the batch's own
  * grams first, so only touched buckets' rows ever shuffle; verify
  * shingles only the docs that appear in a candidate pair (semi-join),
  * never the corpus. The stats merge is a vocabulary-sized full-outer
  * join — the [[graft.operators.IncrementalAgg]] discipline: group-
  * cardinality-sized, never corpus-sized.
  *
  * Cap contract: a gram whose UPDATED occupancy exceeds
  * `maxBucketSize` is excluded from BOTH join sides of this and every
  * later batch (its index rows stay recorded, so occupancy accounting
  * never lies). Pairs it alone would have witnessed are lost from the
  * moment it crosses the cap — size the cap to fire only on degenerate
  * boilerplate, exactly as in [[NearDup.prefixFilterPairs]].
  *
  * Ids must be unique across the base and all batches (a reappearing
  * id means "this doc replaced itself" — run [[graft.operators.Dedup]]
  * first). `threshold`/`shingleN` are baked into the index at build
  * time; pass the same values to every [[deltaPairs]] call.
  */
object PrefixIndex {

  /** The persisted state: see the object doc for column contracts. */
  final case class State(stats: DataFrame, index: DataFrame)

  /** Distinct token `n`-gram rows `(idCol, g)` — the shared shingle
    * shape of the prefix-filter family.
    */
  private def shingled(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int): DataFrame =
    NearDup.tokensAtLeast(df, idCol, textCol, shingleN)
      .select(col(idCol),
        explode(array_distinct(TextOps.ngrams(col("toks"), shingleN)))
          .as("g"))

  /** Prefix rows of `sh` under the frozen order carried by `stats`:
    * grams absent from `stats` take frequency 0 (new ⇒ rare ⇒ sorted
    * first — a fixed function of g, so the order stays shared). The
    * window partitions by doc id, so its cost is bounded by the input
    * batch, never the corpus.
    */
  private def prefixesUnder(sh: DataFrame, stats: DataFrame,
                            idCol: String, threshold: Double): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
    val ord = byDoc.orderBy(col("__f").asc, col("g").asc)
    sh.join(stats.select(col("g"), col("__f")), Seq("g"), "left")
      .withColumn("__f", coalesce(col("__f"), lit(0L)))
      .withColumn("__n", count(lit(1)).over(byDoc))
      .withColumn("__rn", row_number().over(ord))
      .filter(col("__rn") <=
        col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(col(idCol), col("g"))
  }

  /** One-time (or periodic-rebuild) state construction over the
    * standing corpus: the only corpus-sized frequency aggregate and
    * prefix window in the stateful lifecycle. Base×base pairs come
    * from one [[NearDup.prefixFilterPairs]] run at the same moment;
    * this records the order and index that make every later append
    * batch-sized.
    */
  def build(corpus: DataFrame, idCol: String, textCol: String,
            threshold: Double = 0.9, shingleN: Int = 3): State = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val sh = shingled(corpus, idCol, textCol, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val freq = sh.groupBy("g").agg(count(lit(1)).as("__f"))
    val index = prefixesUnder(sh, freq, idCol, threshold)
      .localCheckpoint(true)
    val stats = freq
      .join(index.groupBy("g").agg(count(lit(1)).as("__b")), Seq("g"), "left")
      .withColumn("__b", coalesce(col("__b"), lit(0L)))
      .localCheckpoint(true)
    sh.unpersist()
    State(stats, index)
  }

  /** The exact Jaccard ≥ `threshold` pairs over `base ∪ incoming` that
    * involve at least one incoming doc, PLUS the updated state —
    * `baseTexts` is the standing docs table (only candidate-touched
    * rows are ever shingled from it). Returns `(pairs, newState)`;
    * `newState.index` is `state.index` plus the batch's prefix rows
    * (deployment: append just the new rows — [[stagePrefixes]] exposes
    * them — and rewrite the vocabulary-sized stats table).
    */
  def deltaPairs(incoming: DataFrame, state: State, baseTexts: DataFrame,
                 idCol: String, textCol: String, threshold: Double = 0.9,
                 shingleN: Int = 3, maxBucketSize: Int = 100000)
      : (DataFrame, State) = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive, got $maxBucketSize")
    val preInc = stagePrefixes(incoming, state.stats, idCol, textCol,
        threshold, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Checkpointed staged rows back both the state update and the
    // candidate join, so the returned State never holds lineage onto
    // the frame unpersisted below.
    val staged = preInc.localCheckpoint(true)
    val merged = applyDelta(state, staged)
    val newStats = merged.stats.localCheckpoint(true)
    // Cap reads the merged occupancy — O(1) per gram, both sides.
    val over = newStats.filter(col("__b") > maxBucketSize).select("g")
    val touched = preInc.select("g").distinct()
    // Probe side = standing index ∪ this batch (batch-internal pairs
    // count too), semi-joined to the batch's grams FIRST so only
    // touched buckets' rows reach the join's exchange.
    val probe = state.index.unionByName(preInc)
      .join(touched, Seq("g"), "left_semi")
      .join(over, Seq("g"), "left_anti")
    val cand = preInc.join(over, Seq("g"), "left_anti")
      .select(col("g"), col(idCol).as("__a"))
      .join(probe.select(col("g"), col(idCol).as("__b"))
        .hint("shuffle_hash"), Seq("g"))
      .filter(col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("id1"),
        greatest(col("__a"), col("__b")).as("id2"))
      .distinct()
    // Verify only the docs a candidate names — never the corpus.
    val needed = cand.select(col("id1").as(idCol))
      .unionByName(cand.select(col("id2").as(idCol)))
      .distinct()
    val texts = baseTexts.select(col(idCol), col(textCol))
      .unionByName(incoming.select(col(idCol), col(textCol)))
      .join(needed, Seq(idCol), "left_semi")
    val pairs = NearDup.gramJaccardVerify(cand, texts, idCol, textCol,
        shingleN)
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    preInc.unpersist()
    (pairs, State(newStats, merged.index))
  }

  /** Exact state update for one STAGED batch (the rows
    * [[stagePrefixes]] emits): merge the batch's per-gram prefix-row
    * counts into the occupancy stats — a vocabulary-sized full-outer
    * join, the [[graft.operators.IncrementalAgg]] shape, with `__f`
    * FROZEN (new grams enter at the same frequency 0 the order already
    * assigns them) — and append the staged rows to the index.
    * [[deltaPairs]] routes its own state transition through this
    * method; a deployment that persists [[State]] between batches
    * calls it after [[stagePrefixes]] to produce exactly the tables it
    * writes back (append the staged rows to the index table, rewrite
    * the vocabulary-sized stats table).
    */
  def applyDelta(state: State, staged: DataFrame): State = {
    val bInc = staged.groupBy("g").agg(count(lit(1)).as("__bi"))
    val newStats = state.stats.join(bInc, Seq("g"), "full_outer")
      .select(col("g"), coalesce(col("__f"), lit(0L)).as("__f"),
        (coalesce(col("__b"), lit(0L)) + coalesce(col("__bi"), lit(0L)))
          .as("__b"))
    State(newStats, state.index.unionByName(staged))
  }

  /** The batch's own prefix rows under the frozen order — what a
    * deployment APPENDS to the index table per batch (exposed so the
    * append stays O(batch); [[deltaPairs]] uses exactly these rows).
    */
  def stagePrefixes(incoming: DataFrame, stats: DataFrame, idCol: String,
                    textCol: String, threshold: Double = 0.9,
                    shingleN: Int = 3): DataFrame =
    prefixesUnder(shingled(incoming, idCol, textCol, shingleN), stats,
      idCol, threshold)
}
