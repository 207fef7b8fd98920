package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Near-duplicate detection at corpus scale: MinHash + LSH banding,
  * SimHash with blocked Hamming search, and exact n-gram Jaccard
  * verification. The non-negotiable design rule at 100 TB: NEVER form
  * all pairs. Both families reduce candidate generation to an equi-join
  * on a bucket key (band hash / simhash block), so candidates scale with
  * collisions, not with N².
  */
object NearDup {

  import graft.functions.PortableMinHash

  /** Repartition only when the input is under-parallel (a small local
    * input reads as one file = one partition = one thread). At scale the
    * file splits already give parallelism and the shuffle would be a
    * pure waste, so a well-split input passes through untouched.
    * (Shared implementation: [[graft.operators.Par.fan]].)
    */
  private[graft] def ensureParallel(df: DataFrame, key: Column): DataFrame =
    graft.operators.Par.fan(df, key)

  /** `(idCol, toks)` for the docs with at least `n` tokens, split once,
    * above the [[ensureParallel]] fan. A plain select-then-filter lets
    * the optimizer rewrite the filter to `size(split(text)) >= n` and
    * push it below the fan's exchange, where the split runs a second
    * time, on the one input partition. A filter over a generator's
    * output stays above the generator, so the tokens come out of a
    * one-element `explode_outer` (q183's `posexplode_outer` keeps its
    * filter above the signatures the same way).
    */
  private[dedup] def tokensAtLeast(df: DataFrame, idCol: String,
                                   textCol: String, n: Int): DataFrame =
    ensureParallel(df, col(idCol))
      .select(col(idCol),
        explode_outer(array(TextOps.tokens(col(textCol)))).as("toks"))
      .filter(size(col("toks")) >= n)

  /** MinHash signatures over token `shingleN`-gram shingles: one row
    * per doc, `sig` = array of k minima. Single projection pass per row
    * through the native codegen'd [[graft.functions.PortableMinHash]]
    * expression over the TOKEN array (shingles combine as rolling token
    * hashes, never as strings) — nothing shuffles except the
    * parallelism repartition. Every hash is integer arithmetic that
    * SQL replays exactly (q183/q184 hash-compare against DuckDB):
    *   token hash    = the RollingHash codepoint fold (mod 1e9+7)
    *   shingle hash  = the same ×31 fold over `shingleN` token hashes
    *   minhash i     = min over shingles of (aᵢ·s + bᵢ) mod 1e9+7
    * Every intermediate stays < 2^60, so the arithmetic is BIGINT-exact
    * on both engines. A doc with fewer than `shingleN` tokens has no
    * shingles: its `sig` is EMPTY, and it gets no bucket in
    * [[lshBuckets]] (verify drops it too, see [[gramJaccardVerify]]).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 64, shingleN: Int = 3): DataFrame = {
    require(k >= 1 && shingleN >= 1, s"bad k=$k shingleN=$shingleN")
    // Parallelize first if needed: a small input (one file = one
    // partition) would otherwise compute every signature on a single
    // thread. No filter here: the optimizer pushes a filter below that
    // repartition, where it runs on the one input partition.
    ensureParallel(df, col(idCol))
      .select(col(idCol),
        PortableMinHash.minima(TextOps.tokens(col(textCol)), k, shingleN)
          .as("sig"))
  }

  /** LSH banding: split the k-wide signature into `bands` bands of
    * `rowsPerBand` and emit (band_id, band_hash) bucket keys, where
    * band_hash is the ×31 fold mod 1e9+7 over the band's minima (the
    * fold the q184 oracle replays) — plain arithmetic over `element_at`,
    * so it stays in generated code. An empty `sig` (a doc shorter than
    * one shingle) yields no bucket. Docs sharing any bucket become
    * candidates via a self-equi-join on the bucket key — one shuffle,
    * no cross product.
    */
  def lshBuckets(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandHash = (0 until bands).map(b =>
      (b * rowsPerBand until (b + 1) * rowsPerBand).foldLeft(lit(0L)) {
        (acc, i) => (acc * 31L + element_at(col("sig"), i + 1)) % PortableMinHash.Mod
      })
    sigs.select(col(idCol),
        posexplode(when(size(col("sig")) > 0, array(bandHash: _*))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
  }

  /** Drop every bucket holding more than `maxBucketSize` rows before a
    * candidate self-join. A degenerate bucket (empty strings, license
    * boilerplate, repeated headers) is the one place "candidates scale
    * with collisions" degrades to N²: every member joins every other
    * member BEFORE the verify filter can drop anything, and the
    * shuffle_hash hint that stabilizes the normal case pins the build
    * side so AQE's skew split cannot rescue it. Capping makes the
    * candidate count a hard O(maxBucketSize · N).
    *
    * Recall contract: a true pair is lost only if EVERY bucket the two
    * rows share is overfull — which happens exactly when the pair sits
    * inside a mass-duplicated blob. Run [[graft.operators.Dedup.exactDedup]]
    * first so identical content collapses to one representative; what a
    * dropped mega-bucket then loses is content exact-dedup already
    * handles.
    *
    * Mechanism: a `count(*) OVER (PARTITION BY key)` window plus a
    * map-side filter — ONE exchange, hash-partitioned on the bucket
    * key, which is exactly the distribution the candidate self-join
    * needs, so when the caller persists the capped table the count, the
    * cap filter, and BOTH self-join sides ride that single shuffle and
    * the join plans with zero further exchanges. The previous shape
    * (count aggregate + broadcast anti-join) paid a second full-table
    * exchange for the count plus a broadcast-job barrier on the
    * critical path — measured ~2× on [[nearDupPairs]] at sf0.1. A
    * degenerate mega-bucket lands in one window group; WindowExec
    * buffers it via its spilling row array, so the cost stays linear in
    * the bucket (disk-bound, not N²) and the filter then drops it.
    */
  private[graft] def capBuckets(keyed: DataFrame, keyCols: Seq[String],
                                maxBucketSize: Int): DataFrame = {
    require(maxBucketSize > 0, s"maxBucketSize must be positive, got $maxBucketSize")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    keyed.withColumn("__graft_bucket_n", count(lit(1)).over(w))
      .filter(col("__graft_bucket_n") <= maxBucketSize)
      .drop("__graft_bucket_n")
  }

  /** Candidate (id1 < id2) pairs from a capped, bucket-keyed table via
    * a self-equi-join on `keyCols`. `capped` should already carry the
    * bucket-key hash partitioning from [[capBuckets]] (persist it when
    * both sides are expensive to recompute) so the join adds no
    * exchange; only the (near-linear) pair set shuffles for distinct().
    * shuffle_hash hint: the self-join sides are the same mid-size
    * bucket table, right at the broadcast threshold, so the unhinted
    * strategy flip-flops between broadcast and sort-merge run-to-run;
    * hash join on the bucket key needs no sort and builds from one
    * partition of the same table it probes.
    */
  private[graft] def bucketSelfJoin(capped: DataFrame, idCol: String,
                                    keyCols: Seq[String]): DataFrame = {
    val a = capped.select(keyCols.map(col) :+ col(idCol).as("id1"): _*)
    val b = capped.select(keyCols.map(col) :+ col(idCol).as("id2"): _*)
    a.join(b.hint("shuffle_hash"), keyCols)
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Exact token-set Jaccard for candidate pairs — the verify step after
    * LSH narrowed the space. Joins the (distinct-token-set) docs to the
    * pair list twice; candidate cardinality ≪ N², so both joins are
    * cheap and broadcast-able when pairs are few.
    */
  def jaccardVerify(pairs: DataFrame, df: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val toks = ensureParallel(df, col(idCol)).select(col(idCol),
      array_distinct(TextOps.tokens(col(textCol))).as("toks"))
    pairs
      .join(toks.select(col(idCol).as("id1"), col("toks").as("t1")), Seq("id1"))
      .join(toks.select(col(idCol).as("id2"), col("toks").as("t2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("t1"), col("t2"))).cast("double") /
          size(array_union(col("t1"), col("t2")))).as("jaccard"))
  }

  /** Exact Jaccard over distinct token n-gram (shingle) sets — the
    * verify measure that MATCHES what n-shingle MinHash signatures
    * estimate. [[jaccardVerify]]'s token-set Jaccard is a different
    * measure at n > 1 (a reordered doc keeps its token set but loses
    * its shingles), so a pipeline that signatures at `shingleN = n` and
    * verifies token-wise cannot claim its LSH recall bound end-to-end;
    * this one can. `n = 1` is exactly [[jaccardVerify]]. Docs with
    * fewer than `n` tokens have no shingles and drop out (inner-join
    * semantics, same as [[containmentVerify]]).
    */
  def gramJaccardVerify(pairs: DataFrame, df: DataFrame, idCol: String,
                        textCol: String, n: Int): DataFrame =
    if (n == 1) jaccardVerify(pairs, df, idCol, textCol)
    else gramJaccardVerifyOnGrams(pairs,
      tokensAtLeast(df, idCol, textCol, n)
        .select(col(idCol), array_distinct(TextOps.ngrams(col("toks"), n)).as("g")),
      idCol)

  /** [[gramJaccardVerify]] over a PRE-BUILT `(idCol, g)` distinct-gram
    * table — the face for callers that already hold the tokenized
    * corpus (prefixFilterPairs materializes it once and feeds the
    * prefix build AND this verify from the same cache, instead of
    * re-tokenizing per pass).
    */
  private[graft] def gramJaccardVerifyOnGrams(pairs: DataFrame,
                                              grams: DataFrame,
                                              idCol: String): DataFrame =
    pairs
      .join(grams.select(col(idCol).as("id1"), col("g").as("g1")), Seq("id1"))
      .join(grams.select(col(idCol).as("id2"), col("g").as("g2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("g1"), col("g2"))).cast("double") /
          size(array_union(col("g1"), col("g2")))).as("jaccard"))

  /** EXACT set-similarity self-join via prefix filtering (the
    * PPJoin/AllPairs family, Chaudhuri et al. 2006 / Xiao et al. 2008)
    * — the deterministic-recall complement to MinHash-LSH: every pair
    * with shingle Jaccard ≥ `threshold` is guaranteed found, no
    * probabilistic bound. Each doc's shingle set is ordered RAREST
    * FIRST (global doc-frequency, gram tiebreak) and only its first
    * `|s| - ceil(t·|s|) + 1` grams join: if two sets share NO prefix
    * gram, their intersection fits inside one suffix of size
    * < t·|s| ≤ t·|s∪| — below the overlap any J ≥ t pair must have —
    * so skipping non-prefix grams loses nothing.
    *
    * Scale: rarity ordering is also the skew story — prefixes are by
    * construction the LOW-frequency grams, so join buckets stay small
    * where LSH's hash buckets can collide arbitrarily. The
    * `maxBucketSize` insurance still applies (a gram shared by
    * millions of docs would otherwise fan out quadratically), but
    * unlike LSH, dropping a bucket here TRADES AWAY the exactness
    * contract — size it to fire only on degenerate boilerplate.
    * Candidates are verified with the measure-consistent
    * [[gramJaccardVerify]], so output = the true pair set.
    */
  def prefixFilterPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.9, shingleN: Int = 3,
                        maxBucketSize: Int = 100000): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // Tokenize ONCE: the stage profile showed this call's three heavy
    // passes (shingle-frequency aggregate, prefix build, verify) EACH
    // re-running tokenize+ngram from the scan (~8 CPU-s apiece at
    // sf0.1). The compact (id, toks) table — same order of size as
    // the input text — is persisted for the call's duration and feeds
    // all three; the PPJoin literature's materialized prefix index,
    // applied one level down. Unpersisted before return.
    val toks = tokensAtLeast(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = toks.select(col(idCol),
      explode(array_distinct(TextOps.ngrams(col("toks"), shingleN)))
        .as("g"))
    val freq = sh.groupBy("g").agg(count(lit(1)).as("__f"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
    val ord = byDoc.orderBy(col("__f").asc, col("g").asc)
    val pre = sh.join(freq, Seq("g"))
      .withColumn("__n", count(lit(1)).over(byDoc))
      .withColumn("__rn", row_number().over(ord))
      .filter(col("__rn") <=
        col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(col(idCol), col("g"))
    val capped = capBuckets(pre, Seq("g"), maxBucketSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bucketSelfJoin(capped, idCol, Seq("g"))
    val out = gramJaccardVerifyOnGrams(cand,
        toks.select(col(idCol),
          array_distinct(TextOps.ngrams(col("toks"), shingleN)).as("g")),
        idCol)
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    capped.unpersist()
    toks.unpersist()
    out
  }

  /** INCREMENTAL [[prefixFilterPairs]]: the exact Jaccard ≥ `threshold`
    * pairs over `base ∪ incoming` that involve AT LEAST ONE incoming
    * doc — the delta pair set a daily corpus append needs. The
    * standing corpus's base×base pairs are already known from the last
    * run, and at 100 TB re-deriving them daily is the difference
    * between an append costing O(Δ·corpus-contact) and O(corpus²):
    * the candidate join here probes only INCOMING prefixes against the
    * union's prefix index, so no base×base candidate is ever formed.
    * The exact-recall counterpart of [[nearDupPairsIncremental]] (the
    * MinHash-LSH incremental against a persisted signature index):
    * that one re-uses precomputed signatures but inherits LSH's
    * probabilistic recall; this one guarantees every pair at the cost
    * of one shingle-frequency aggregate over the union.
    *
    * Exactness needs both sides' prefixes chosen under ONE total order
    * (rarest-first by doc-frequency over the UNION — the theorem's
    * shared-order requirement; mixing last run's base order with a
    * fresh incoming order would break the guarantee). That frequency
    * pass is one map-side-combinable aggregate over the union's
    * shingles — in a standing pipeline it is the maintained
    * shingle-stats table, refreshed by merging the delta's counts.
    *
    * Ids must be unique across `base` and `incoming` (an id in both is
    * the caller saying "this doc replaced itself" — run [[Dedup]]
    * first). Pairs are emitted with id1 < id2, like the full join.
    */
  def incrementalPrefixFilterPairs(base: DataFrame, incoming: DataFrame,
                                   idCol: String, textCol: String,
                                   threshold: Double = 0.9,
                                   shingleN: Int = 3,
                                   maxBucketSize: Int = 100000)
      : DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // tokenize once per side (the prefixFilterPairs materialization,
    // same rationale): frequency pass, prefix build and verify all
    // read the cached compact (id, toks) tables
    def toksOf(df: DataFrame) = tokensAtLeast(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toksBase = toksOf(base)
    val toksInc = toksOf(incoming)
    def shingled(t: DataFrame) = t.select(col(idCol),
      explode(array_distinct(TextOps.ngrams(col("toks"), shingleN)))
        .as("g"))
    val shAll = shingled(toksBase).unionByName(shingled(toksInc))
    val freq = shAll.groupBy("g").agg(count(lit(1)).as("__f"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
    val ord = byDoc.orderBy(col("__f").asc, col("g").asc)
    def prefixes(sh: DataFrame) = sh.join(freq, Seq("g"))
      .withColumn("__n", count(lit(1)).over(byDoc))
      .withColumn("__rn", row_number().over(ord))
      .filter(col("__rn") <=
        col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(col(idCol), col("g"))
    // Cap on the UNION index (the probed side): an overfull gram is
    // dropped from BOTH sides or neither, keeping the shared-order
    // exactness story intact for every surviving gram.
    val preAll = capBuckets(prefixes(shAll), Seq("g"), maxBucketSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val preInc = preAll.join(
      incoming.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
    val cand = preInc.select(col("g"), col(idCol).as("__a"))
      .join(preAll.select(col("g"), col(idCol).as("__b"))
        .hint("shuffle_hash"), Seq("g"))
      .filter(col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("id1"),
        greatest(col("__a"), col("__b")).as("id2"))
      .distinct()
    val out = gramJaccardVerifyOnGrams(cand,
        toksBase.unionByName(toksInc).select(col(idCol),
          array_distinct(TextOps.ngrams(col("toks"), shingleN)).as("g")),
        idCol)
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    preAll.unpersist()
    toksBase.unpersist()
    toksInc.unpersist()
    out
  }

  /** One-sided n-gram containment for candidate pairs:
    * `|grams(A) ∩ grams(B)| / |grams(A)|` over distinct token n-grams.
    * Jaccard misses QUOTATION — a short doc wholly embedded in a long
    * one scores near zero symmetric overlap but containment ≈ 1 — so
    * corpus dedup runs both verdicts on the LSH candidates. Same join
    * shape as [[jaccardVerify]]; docs with fewer than n tokens have no
    * n-grams and drop out (null containment rows are filtered).
    */
  def containmentVerify(pairs: DataFrame, df: DataFrame, idCol: String,
                        textCol: String, n: Int = 3): DataFrame = {
    val grams = tokensAtLeast(df, idCol, textCol, n)
      .select(col(idCol), array_distinct(TextOps.ngrams(col("toks"), n)).as("g"))
    pairs
      .join(grams.select(col(idCol).as("id1"), col("g").as("g1")), Seq("id1"))
      .join(grams.select(col(idCol).as("id2"), col("g").as("g2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("g1"), col("g2"))).cast("double") /
          size(col("g1"))).as("containment"))
  }

  /** End-to-end MinHash-LSH near-dup pairs above `threshold`:
    * signatures → band folds → capped bucket self-join → verify. Both
    * self-join sides read the same capped plan, so they share its one
    * bucket-key exchange (reused, not recomputed) and nothing is
    * persisted: the result is an ordinary lazy frame. Persisting the
    * capped table and checkpointing the pairs instead measured slower
    * (one cache-building and one checkpoint job more per call).
    *
    * Verify is the exact Jaccard over distinct `shingleN`-gram sets
    * ([[gramJaccardVerify]]) — the measure the signatures estimate, so
    * the LSH recall bound holds end to end (see q137).
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, k: Int = 64, bands: Int = 16,
                   shingleN: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val keys = Seq("band_id", "band_hash")
    val buckets = lshBuckets(minhashSignatures(df, idCol, textCol, k, shingleN),
      idCol, bands, k / bands)
    val pairs = bucketSelfJoin(capBuckets(buckets, keys, maxBucketSize), idCol, keys)
    gramJaccardVerify(pairs, df, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental (daily-batch) MinHash-LSH near-dup detection against a
    * PERSISTED signature index — the 100 TB daily-cadence shape: a new
    * batch dedups against the whole corpus without recomputing corpus
    * signatures, and the corpus never shuffles.
    *
    * `indexSigs` is the materialized output of [[minhashSignatures]]
    * over the existing corpus (write it to a table once per corpus
    * build; append each day's batch signatures after ingesting).
    * `corpus` provides (idCol, textCol) for EVERY id either side of a
    * candidate pair can name (old + new) — the exact-Jaccard verify
    * reads only the matched candidates out of it.
    *
    * Output: verified pairs (id1 < id2, jaccard ≥ threshold) where at
    * least one side is in the new batch — within-batch pairs AND
    * batch-vs-corpus pairs. Old-old pairs are exactly what is NOT
    * recomputed (they were found when their own batches arrived) —
    * union with the prior pair table for the complete corpus state.
    *
    * Scale shape (the point of the operator): the index side is a
    * NARROW banding projection over the stored signatures — tokenize/
    * shingle/minhash (the dominant cost) never reruns — and the batch's
    * bucket keys are BROADCAST to it, so the index is scanned once and
    * shuffles nothing; the only exchanges carry the batch and the
    * (near-linear) candidate set. Unlike the self-join family, the
    * batch-vs-index join is BIPARTITE: a degenerate boilerplate bucket
    * costs |bucket| × (batch rows in it) — linear in the index, never
    * N_b² — so the [[capBuckets]] window runs on the batch side only
    * (bounding that product at maxBucketSize per index row) and the
    * index needs no cap pass at all. Within-batch pairs use the
    * standard capped self-join on the (small) batch.
    *
    * Equality contract (unit-proven, and q137 oracles the composite
    * against a brute-force SQL twin): on any corpus split (old, new),
    * the result equals the full-corpus [[nearDupPairs]] recompute
    * restricted to pairs touching `newBatch` — same signatures, same
    * bands, same verify.
    *
    * Nothing is persisted: the result is an ordinary lazy frame, and
    * both candidate branches read the same capped batch plan, whose
    * bucket-key exchange they share (the [[nearDupPairs]] shape).
    */
  def nearDupPairsIncremental(newBatch: DataFrame, indexSigs: DataFrame,
                              corpus: DataFrame, idCol: String, textCol: String,
                              threshold: Double = 0.8, k: Int = 64,
                              bands: Int = 16, shingleN: Int = 3,
                              maxBucketSize: Int = 10000): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val newSigs = minhashSignatures(newBatch, idCol, textCol, k, shingleN)
    val newKeys = capBuckets(lshBuckets(newSigs, idCol, bands, k / bands),
      Seq("band_id", "band_hash"), maxBucketSize)
    val idxKeys = lshBuckets(indexSigs, idCol, bands, k / bands)
    val pairs = incrementalCandidates(newKeys, idxKeys, idCol)
    gramJaccardVerify(pairs, corpus, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate pairs of [[nearDupPairsIncremental]]: the batch's capped
    * self-join plus the bipartite batch-keys-broadcast-to-index join —
    * the index side contributes ZERO exchanges (plan-asserted in the
    * spec; a sort-merge strategy here would silently shuffle the whole
    * corpus index every day).
    */
  private[graft] def incrementalCandidates(newKeys: DataFrame,
                                           idxKeys: DataFrame,
                                           idCol: String): DataFrame = {
    val newNew = bucketSelfJoin(newKeys, idCol, Seq("band_id", "band_hash"))
    val newOld = idxKeys
      .join(broadcast(newKeys.select(col("band_id"), col("band_hash"),
        col(idCol).as("__new_id"))), Seq("band_id", "band_hash"))
      .filter(col(idCol) =!= col("__new_id"))
      .select(least(col(idCol), col("__new_id")).as("id1"),
        greatest(col(idCol), col("__new_id")).as("id2"))
      .distinct()
    // a pair can reach both branches only when an id was re-ingested
    // (present in the batch AND the index) — the union distinct folds it
    newNew.unionByName(newOld).distinct()
  }

  /** Labeled contrastive pairs for embedding/similarity training:
    * positives are the measure-consistent verified near-dup pairs
    * ([[nearDupPairs]] at `shingleN`), negatives are
    * deterministic stride partners `(id + negStride) mod N` — id-hash
    * reproducible on any engine/partitioning, no RNG — canonicalized
    * to id1 < id2, kept only when the partner id exists (left semi),
    * and anti-joined against the positives so a stride pair that
    * happens to be a true near-dup is never mislabeled. Output:
    * (id1, id2, label) with label 1 = near-dup, 0 = negative.
    *
    * Scale shape: positives inherit the capped-LSH cost; negatives are
    * a narrow projection + two id-key joins (semi + anti), both
    * broadcast-able at the label-table sizes involved. The corpus count
    * rides as a one-row cross join.
    */
  def contrastivePairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.9, shingleN: Int = 3,
                       negStride: Long = 7919L): DataFrame = {
    val pos = nearDupPairs(df, idCol, textCol, threshold, shingleN = shingleN)
      .select(col("id1"), col("id2"), lit(1).as("label"))
    val n = df.agg(count(lit(1)).as("__n"))
    val neg = df.select(col(idCol).as("__a")).crossJoin(n)
      .select(col("__a"), pmod(col("__a") + lit(negStride), col("__n")).as("__b"))
      .filter(col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("id1"),
        greatest(col("__a"), col("__b")).as("id2"))
      .distinct()
      .join(df.select(col(idCol).as("id2")), Seq("id2"), "left_semi")
      .join(pos.select("id1", "id2"), Seq("id1", "id2"), "left_anti")
      .select(col("id1"), col("id2"), lit(0).as("label"))
    pos.unionByName(neg)
  }

  /** Portable 60-bit SimHash signatures (see
    * [[graft.functions.PortableSimHash]]): a pure projection, NO
    * shuffle. Plug into [[simhashPairs]] with `bits = 60` for the
    * end-to-end oracled pipeline (q189/q190). Repartitions only when
    * the input is under-parallel (few-file local inputs).
    */
  def simhashPortable(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    ensureParallel(df, col(idCol))
      .select(col(idCol),
        graft.functions.PortableSimHash
          .simhash(TextOps.tokens(col(textCol))).as("simhash"))

  /** Near-dup pairs by SimHash Hamming distance ≤ `maxHamming`, using
    * the pigeonhole block trick: split the `bits` signature bits into
    * `blocks` chunks; any pair within distance `blocks-1` must agree
    * exactly on ≥1 chunk, so candidates come from an equi-join on
    * (block_id, block_value). When `blocks` divides `bits`, `maxHamming
    * < blocks` and no block is over-full, the output EQUALS the
    * brute-force pair set (unit-tested); blocks over `maxBucketSize`
    * are dropped first (see [[capBuckets]] for the recall contract).
    */
  def simhashPairs(sigs: DataFrame, idCol: String, maxHamming: Int = 3,
                   blocks: Int = 4, maxBucketSize: Int = 10000,
                   bits: Int = 64): DataFrame = {
    val width = bits / blocks
    val mask = (1L << width) - 1L
    val keyed0 = sigs.select(col(idCol), col("simhash"),
      posexplode(expr(
        s"transform(sequence(0, ${blocks - 1}), b -> shiftright(simhash, b * $width) & ${mask}L)")))
      .withColumnRenamed("pos", "block_id")
      .withColumnRenamed("col", "block_val")
    // Over-full blocks (mass-duplicated content) would join N_b² rows
    // before the Hamming filter sees them — capped; see capBuckets.
    // Persisted ABOVE the cap window: the self-join reads the capped
    // table twice, and the cache carries the window's block-key
    // partitioning so the join adds no exchange. The (small) pair set
    // is eagerly checkpointed so this cache can be dropped before
    // returning (pair blocks live until the result is GC'd; lineage is
    // truncated — see nearDupPairsIncremental scaladoc).
    val keyed = capBuckets(keyed0, Seq("block_id", "block_val"), maxBucketSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = keyed.select(col("block_id"), col("block_val"),
      col(idCol).as("id1"), col("simhash").as("s1"))
    val b = keyed.select(col("block_id"), col("block_val"),
      col(idCol).as("id2"), col("simhash").as("s2"))
    // hamming filter BEFORE the distinct: random bucket collisions (the
    // overwhelming majority of candidates) die in the codegen'd filter
    // and never reach the dedup exchange — only true near-dup pairs,
    // a near-linear set, shuffle for distinct(). shuffle_hash hint: see
    // bucketSelfJoin (identical self-join shape)
    val out = a.join(b.hint("shuffle_hash"), Seq("block_id", "block_val"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("bit_count(s1 ^ s2)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .localCheckpoint(true)
    keyed.unpersist()
    out
  }
}
