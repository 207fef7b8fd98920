package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two tiers, as a training-data pipeline needs:
  *  - brute-force cosine top-k: the exact baseline. The query set is
  *    broadcast, so the corpus streams once with no shuffle — correct
  *    but O(N·Q); use it for small query batches or as ground truth.
  *  - signed-random-projection LSH: corpus and queries hash to bucket
  *    signatures; candidates come from an equi-join on the bucket key,
  *    so at 100 TB the all-pairs product never forms.
  *
  * All arithmetic is codegen'd higher-order functions (`zip_with` +
  * `aggregate`) over doubles — no UDF, deterministic fold order.
  */
object Similarity {

  /** Elementwise float→double, so downstream math is double-precision. */
  def toDouble(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** Sequential dot product — deterministic for a given array order,
    * computed by the native codegen'd [[graft.functions.ArrayDot]]
    * (bit-identical to the interpreted left-fold it replaces).
    */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayDot.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector. `corpus` and
    * `queries` carry (idCol, vecCol); vectors must be same length.
    * Output: query_id, neighbor_id, rnk (1-based by descending cosine,
    * neighbor id as deterministic tiebreak).
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("cv"), col("qv")).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Hard-negative mining for contrastive embedding training: for each
    * anchor, the k most-similar corpus vectors with a DIFFERENT label —
    * the negatives that actually move an InfoNCE/triplet loss (easy
    * negatives contribute ~zero gradient). Brute variant — exact, the
    * yardstick: corpus × broadcast(anchor batch) — anchors are a
    * training batch, never the whole corpus, so the full cross product
    * stays off the table — cosine-ranked per anchor with the
    * [[bruteTopK]] determinism discipline (id tiebreak). The scale path
    * is [[hardNegativesLsh]].
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("nl"), toDouble(col(vecCol)).as("cv"))
    val q = anchors.select(col(idCol).as("query_id"),
      col(labelCol).as("ql"), toDouble(col(vecCol)).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(q),
        col("neighbor_id") =!= col("query_id") && col("nl") =!= col("ql"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("cv"), col("qv")).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** [[hardNegatives]]' scale shape: candidates from SRP-LSH bucket
    * equi-joins (any of `tables` tables; never a cross product), then
    * the exact cosine rank over candidates with a different label.
    * Portable planes, so the whole path — buckets, candidate set,
    * ranking — replays in SQL (the q136 discipline). Hard
    * negatives are exactly the high-cosine region LSH buckets are
    * dense in, so candidate recall concentrates where the miner needs
    * it; misses only soften the negatives, never corrupt a label
    * (the different-label predicate is exact).
    *
    * Scale contract (both the N² holes closed):
    *  - the corpus side's SRP buckets are CAPPED at `maxBucketSize`
    *    via [[graft.dedup.NearDup.capBuckets]] — exactly the q54
    *    recall contract [[cosineNearDupPairs]] carries: a
    *    mass-duplicated embedding blob lands all N copies in one
    *    bucket of EVERY table, and an uncapped join would degrade to
    *    anchors×N. Dropped buckets only soften negatives (a blob that
    *    saturates a bucket is a near-constant direction — a poor
    *    hard-negative pool anyway).
    *  - anchors may legitimately be corpus-proportional (mine
    *    negatives for EVERY training sample), so there is NO broadcast
    *    hint on the anchor side: AQE broadcasts a small training batch
    *    at runtime and falls back to a shuffle join when anchors ∝ N —
    *    a plan choice, never a driver OOM.
    * Candidates are therefore ≤ maxBucketSize · anchor-bucket rows per
    * bucket — linear in the anchor count, at any corpus size.
    */
  def hardNegativesLsh(corpus: DataFrame, anchors: DataFrame,
                       idCol: String, vecCol: String, labelCol: String,
                       k: Int, bits: Int = 8, dim: Int = 64,
                       tables: Int = 8,
                       maxBucketSize: Int = 10000): DataFrame = {
    val c0 = lshKeyed(corpus, Seq(col(idCol).as("neighbor_id"),
      col(labelCol).as("nl")), vecCol, "cv", bits, dim, tables)
    val c = graft.dedup.NearDup.capBuckets(c0, Seq("key"), maxBucketSize)
    val q = lshKeyed(anchors, Seq(col(idCol).as("query_id"),
      col(labelCol).as("ql")), vecCol, "qv", bits, dim, tables)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(q, Seq("key"))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("nl") =!= col("ql"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("cv"), col("qv")).as("sim"))
      .distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Label-noise audit (confident-learning-lite): for each anchor, the
    * share of its k nearest corpus vectors carrying a DIFFERENT label —
    * a point sitting deep inside another class's neighborhood is a
    * likely mislabel, the rows an annotation-QA queue should surface
    * first. Anchors are an audit batch (never the whole corpus — the
    * [[hardNegatives]] broadcast contract); ranking and tiebreaks
    * follow [[bruteTopK]]. Output: (query_id, label, n_nn, n_disagree,
    * disagree_ppm, suspect) with `suspect` = disagree_ppm ≥
    * `suspectPpm` (default: AT LEAST HALF of the neighbors disagree —
    * the gate is `>=`, so an exact 50% split on even k is flagged;
    * raise toward unanimity when the label rule itself is
    * geometrically fuzzy — see q246's fixture). Brute by contract —
    * the audit-batch yardstick; [[knnLabelNoiseLsh]] is the scale
    * twin for corpus-wide audits.
    */
  def knnLabelNoise(corpus: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    suspectPpm: Long = 500000L): DataFrame = {
    val nn = bruteTopK(corpus, anchors, idCol, vecCol, k)
    val nl = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"))
    val ql = anchors.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"))
    nn.join(nl, Seq("neighbor_id")).join(ql, Seq("query_id"))
      .groupBy(col("query_id"), col("__ql").as("label"))
      .agg(count(lit(1)).as("n_nn"),
        sum(when(col("__nl") =!= col("__ql"), 1L).otherwise(0L))
          .as("n_disagree"))
      .withColumn("disagree_ppm",
        expr("n_disagree * 1000000L div n_nn"))
      .withColumn("suspect", col("disagree_ppm") >= suspectPpm)
  }

  /** [[knnLabelNoise]]'s scale shape — the corpus-wide audit, where
    * anchors ∝ N and the brute corpus × anchors product is off the
    * table: neighbor candidates come from capped SRP-LSH bucket
    * equi-joins (the [[hardNegativesLsh]] machinery — portable planes
    * so the whole path replays in SQL, corpus buckets capped via
    * [[graft.dedup.NearDup.capBuckets]], NO broadcast hint so AQE
    * sizes the anchor side), then the k nearest CANDIDATES (any label)
    * are ranked by exact cosine and the disagreement share computed
    * exactly as the brute audit does.
    *
    * Semantics vs brute: `n_nn ≤ k` (LSH recall — the neighborhood is
    * the candidates found, and an anchor with zero candidates emits no
    * row), but a true near-identical neighborhood collides in every
    * table, so planted-corruption suspects match the brute audit
    * (q248's gate). Same output schema and `suspectPpm` gate
    * ([[knnLabelNoise]]: at-least-half via `>=`).
    */
  def knnLabelNoiseLsh(corpus: DataFrame, anchors: DataFrame,
                       idCol: String, vecCol: String, labelCol: String,
                       k: Int, suspectPpm: Long = 500000L,
                       bits: Int = 8, dim: Int = 64, tables: Int = 8,
                       maxBucketSize: Int = 10000): DataFrame = {
    val c0 = lshKeyed(corpus, Seq(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl")), vecCol, "cv", bits, dim, tables)
    val c = graft.dedup.NearDup.capBuckets(c0, Seq("key"), maxBucketSize)
    val q = lshKeyed(anchors, Seq(col(idCol).as("query_id"),
      col(labelCol).as("__ql")), vecCol, "qv", bits, dim, tables)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(q, Seq("key"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("__ql"), col("neighbor_id"),
        col("__nl"), cosine(col("cv"), col("qv")).as("sim"))
      .distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy(col("query_id"), col("__ql").as("label"))
      .agg(count(lit(1)).as("n_nn"),
        sum(when(col("__nl") =!= col("__ql"), 1L).otherwise(0L))
          .as("n_disagree"))
      .withColumn("disagree_ppm",
        expr("n_disagree * 1000000L div n_nn"))
      .withColumn("suspect", col("disagree_ppm") >= suspectPpm)
  }

  /** kNN-distance outlier audit — the embedding-space garbage detector
    * a curation pass runs before clustering or SemDeDup: a vector whose
    * k nearest neighbors are all FAR is mis-embedded, garbled, or
    * off-distribution content (Ramaswamy et al. 2000's kNN outlier
    * score, in cosine). Per anchor: mean cosine to its k nearest
    * corpus neighbors, emitted as the exact-decimal TOTAL over the
    * 9-dp-rounded sims plus `n_nn` (the [[graft.text.Vocab.unigramSurprisal]]
    * totals-not-means discipline); `outlier` fires when the mean falls
    * below `thrPct`/100. Brute variant — exact, the audit-batch
    * yardstick: corpus × broadcast(anchors), [[bruteTopK]]'s
    * determinism (id tiebreak). Output contract matches
    * [[knnOutliersLsh]]: EVERY anchor emits a row — an anchor with no
    * neighbor at all (corpus is just the anchor itself) comes back as
    * `n_nn = 0, outlier = true` instead of silently disappearing from
    * the groupBy. The corpus-wide path is [[knnOutliersLsh]].
    */
  def knnOutliers(corpus: DataFrame, anchors: DataFrame, idCol: String,
                  vecCol: String, k: Int, thrPct: Int = 50): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("cv"))
    val q = anchors.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("cv"), col("qv")), 9).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy(col("query_id"))
      .agg(graft.Exprs.dsum(col("sim")).as("sim_total"),
        count(lit(1)).as("n_nn"))
    anchors.select(col(idCol).as("query_id"))
      .join(scored, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("sim_total"), lit(0.0)).as("sim_total"),
        coalesce(col("n_nn"), lit(0L)).as("n_nn"))
      .withColumn("outlier",
        col("sim_total") < col("n_nn") * lit(thrPct / 100.0) ||
          col("n_nn") === 0)
  }

  /** [[knnOutliers]]' corpus-wide scale shape (anchors ∝ N): neighbor
    * candidates from capped SRP-LSH bucket equi-joins — the
    * [[knnLabelNoiseLsh]] machinery (portable planes, corpus buckets
    * capped, no broadcast hint) — with the score over the k nearest
    * CANDIDATES. The LSH recall loss is the POINT here, not a caveat:
    * a vector that collides with nothing across all `tables` hash
    * tables has no near neighbors anywhere (SRP collision probability
    * is monotone in cosine), so zero-candidate anchors emit `n_nn = 0,
    * outlier = true` — the most isolated points in the corpus — UNLESS
    * the anchor touched a CAPPED bucket: a bucket dropped for being
    * over `maxBucketSize` is the densest region there is, and reading
    * its members as isolated would invert the audit, so those anchors
    * carry `capped = true` and are never flagged on emptiness alone
    * (score-based flagging still applies when other buckets supplied
    * candidates).
    *
    * Sizing contract at scale: candidate volume is
    * Σ_anchor(occupancy of its buckets), so a LOW-DIVERSITY corpus
    * (occupancy ∝ N — the adversarial regime) makes a whole-corpus
    * single-call audit quadratic-ish. Run the audit the way every real
    * pipeline does — anchors in batches (the [[knnOutliers]] brute
    * yardstick's shape; q248's every-Nth audit is the measured curve)
    * — and size `maxBucketSize` to bound per-batch work; the cap now
    * reports itself per anchor instead of silently reading as
    * isolation.
    */
  def knnOutliersLsh(corpus: DataFrame, anchors: DataFrame, idCol: String,
                     vecCol: String, k: Int, thrPct: Int = 50,
                     bits: Int = 8, dim: Int = 64, tables: Int = 8,
                     maxBucketSize: Int = 10000): DataFrame = {
    val c0 = lshKeyed(corpus, Seq(col(idCol).as("neighbor_id")), vecCol,
      "cv", bits, dim, tables)
    // capBuckets semantics, with the over-cap key set kept visible so
    // capped-away anchors can be told apart from truly isolated ones
    val over = c0.groupBy("key").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize).select("key")
      .localCheckpoint(true)
    val c = c0.join(over, Seq("key"), "left_anti")
    val q = lshKeyed(anchors, Seq(col(idCol).as("query_id")), vecCol, "qv",
      bits, dim, tables)
    val cappedAnchors = q.join(over, Seq("key"), "left_semi")
      .select(col("query_id")).distinct()
      .withColumn("capped", lit(true))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val scored = c.join(q, Seq("key"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("cv"), col("qv")), 9).as("sim"))
      .distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy(col("query_id"))
      .agg(graft.Exprs.dsum(col("sim")).as("sim_total"),
        count(lit(1)).as("n_nn"))
    anchors.select(col(idCol).as("query_id"))
      .join(scored, Seq("query_id"), "left")
      .join(cappedAnchors, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("sim_total"), lit(0.0)).as("sim_total"),
        coalesce(col("n_nn"), lit(0L)).as("n_nn"),
        coalesce(col("capped"), lit(false)).as("capped"))
      .withColumn("outlier",
        col("sim_total") < col("n_nn") * lit(thrPct / 100.0) ||
          (col("n_nn") === 0 && !col("capped")))
  }

  /** Corpus embedding-diversity audit in ONE LINEAR PASS — the
    * mode-collapse detector for synthetic/distilled data: the exact
    * mean pairwise dot product over all n(n−1)/2 pairs via the
    * sum-vector identity
    *
    *   Σ_{i≠j} ⟨vᵢ,vⱼ⟩ = ‖Σᵢ vᵢ‖² − Σᵢ ‖vᵢ‖²
    *
    * so a statistic that reads like an O(n²) all-pairs job costs one
    * posexplode + a dim-keyed aggregate (64 rows) — no pair ever
    * materializes, at any corpus size. For unit-norm embeddings the
    * output IS the mean pairwise cosine: →1 means the corpus has
    * collapsed to one direction, ~0 means spread. Also emits the mean
    * squared norm (the sanity check that cosine reading is valid).
    *
    * Determinism: per-dimension sums and the Σ‖v‖² accumulate in exact
    * DECIMAL(30,15); the dim-count-sized closing combination replays
    * in the SQL twin's operand order.
    */
  def corpusDiversity(emb: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val acc = DecimalType(30, 15)
    val xs = emb.select(posexplode(toDouble(col(vecCol))).as(Seq("d", "x")))
    val perDim = xs.groupBy(col("d")).agg(
      sum(col("x").cast(acc)).cast("double").as("sd"),
      sum((col("x") * col("x")).cast(acc)).as("sq"))
    val n = emb.agg(count(lit(1)).as("n"))
    perDim.agg(
        sum((col("sd") * col("sd")).cast(acc)).cast("double").as("ssq"),
        sum(col("sq")).cast("double").as("sx2"))
      .crossJoin(n)
      .select(col("n"),
        round(col("sx2") / col("n").cast("double"), 9).as("mean_norm_sq"),
        round((col("ssq") - col("sx2")) /
          (col("n").cast("double") * (col("n") - 1).cast("double")), 9)
          .as("mean_pairwise_dot"))
  }

  /** Johnson–Lindenstrauss random projection to `outDims` dimensions
    * with engine-portable ±1 planes (Achlioptas 2003's database-
    * friendly construction: entries ±1 scaled by 1/√outDims preserve
    * pairwise distances in expectation like Gaussian planes, at
    * integer-hash cost) — the dimensionality-reduction step before
    * clustering / coarse ANN when 64-d embeddings are still too wide
    * to shuffle at corpus scale. Plane sign (j, d) is
    * [[graft.operators.Sample.planeSign]] of coordinate `j·dim + d` at
    * `seed` (the sign hash of [[graft.functions.SrpSignatures]]'
    * planes), so an oracle re-derives every plane in SQL. The
    * projection itself runs through the native fused
    * [[graft.functions.CentroidScores]] matrix-dot expression — one
    * `outDims × dim` codegen loop per row, a pure
    * projection with no shuffle at any scale. Output: array<double>,
    * element j = dot(vec, plane_j) / √dim — the left-to-right signed
    * sum divided by the plane norm (every ±1 plane has norm exactly
    * √dim; for power-of-4 dims like 64 that division is a power of
    * two, hence exact, so an oracle replays it bit-for-bit). Callers
    * wanting the JL-normalized dot/√outDims multiply by
    * √(dim/outDims).
    */
  def randomProject(vec: Column, outDims: Int, dim: Int,
                    seed: Long): Column = {
    require(outDims >= 1 && dim >= 1, s"bad dims: $outDims x $dim")
    val planes: Seq[Seq[Double]] = Seq.tabulate(outDims) { j =>
      Seq.tabulate(dim) { d =>
        graft.operators.Sample.planeSign(j.toLong * dim + d, seed).toDouble
      }
    }
    graft.functions.CentroidScores.scores(toDouble(vec),
      org.apache.spark.sql.functions.typedlit(planes))
  }

  /** `df`'s `cols` and its vector as array<double> `vecAs`, exploded
    * to one row per (table_id, bucket) key `keyAs` of multi-table SRP
    * LSH: `tables` independent sign-hash tables of `bits` bits each.
    * Standard LSH recall amplification — a near neighbor only needs to
    * collide in ONE table. Emits `tables` rows per vector (the
    * index-size/recall tradeoff; candidates still come from
    * equi-joins, never a cross product). All signatures come from the
    * native codegen'd [[graft.functions.SrpSignatures]] expression — one
    * fused pass over the vector instead of tables×bits interpreted
    * folds. The one keying step of every SRP-LSH operator here and of
    * [[Bitext.mineLsh]].
    */
  private[sim] def lshKeyed(df: DataFrame, cols: Seq[Column], vecCol: String,
                            vecAs: String, bits: Int, dim: Int, tables: Int,
                            keyAs: String = "key"): DataFrame = {
    val v = df.select(cols :+ toDouble(col(vecCol)).as(vecAs): _*)
    val buckets = graft.functions.SrpSignatures.buckets(col(vecAs), bits,
      dim, tables)
    // zip table index with its bucket value
    val keys = zip_with(sequence(lit(0), lit(tables - 1)), buckets,
      (t, b) => struct(t.as("table_id"), b.as("bucket")))
    v.select(v.columns.map(col) :+ explode(keys).as(keyAs): _*)
  }

  /** Embedding-cosine near-duplicate pairs: multi-table LSH candidates
    * (capped bucket self-join — never all-pairs), candidate pairs
    * deduplicated BEFORE the exact-cosine verify so each pair's cosine
    * is computed once, then thresholded. Both self-join sides read the
    * same capped plan, so they share its one bucket-key exchange and
    * nothing is persisted: the result is an ordinary lazy frame.
    */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, bits: Int = 8, dim: Int = 64,
                         tables: Int = 8, maxBucketSize: Int = 10000): DataFrame = {
    val keyed0 = lshKeyed(emb, Seq(col(idCol).as("id")), vecCol, "v", bits,
        dim, tables)
      .select("id", "key")
    // A degenerate SRP bucket (e.g. a mass-duplicated embedding, or the
    // all-zero vector every plane scores 0 on) would self-join
    // N_b² rows before the cosine verify — capped like the text-LSH
    // path; see NearDup.capBuckets for the recall contract
    val keyed = graft.dedup.NearDup.capBuckets(keyed0, Seq("key"), maxBucketSize)
    val cand = graft.dedup.NearDup.bucketSelfJoin(keyed, "id", Seq("key"))
    val vecs = emb.select(col(idCol).as("vid"), toDouble(col(vecCol)).as("vv"))
    cand
      .join(vecs.select(col("vid").as("id1"), col("vv").as("v1")), Seq("id1"))
      .join(vecs.select(col("vid").as("id2"), col("vv").as("v2")), Seq("id2"))
      .select(col("id1"), col("id2"), cosine(col("v1"), col("v2")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SEMANTIC decontamination — the embedding-space sibling of
    * [[graft.text.CorpusClean.decontaminate]]'s exact-fingerprint anti
    * join: drop every TRAIN row whose vector matches ANY eval-set
    * vector at cosine ≥ `threshold` (paraphrased or re-formatted
    * benchmark leakage that exact hashes cannot see). Candidates come
    * from shared SRP-LSH buckets in any of the `tables` hash tables;
    * an exact cosine verify then gates the flag, and the final step is
    * a broadcast-able anti join on the train key.
    *
    * Scale shape: the eval SIDE is an eval suite — thousands of rows
    * against billions of train rows — so its keyed signatures
    * broadcast and the train corpus is scanned once, shuffling
    * nothing (candidate filter + anti-join flag set both ride
    * broadcasts). Hot-bucket note: bipartite candidates are bounded
    * by |train ∩ bucket| × |eval ∩ bucket| ≤ |train| · |eval|, the
    * brute bound — the self-join N² hazard does not exist here (same
    * argument as [[lshTopK]]).
    *
    * Recall contract: a pair at cosine 1−ε disagrees on a sign bit
    * with probability ∝ ε per plane, so true contamination (near-
    * identical directions) collides in every table; the miss
    * probability at the `threshold` ≈ 1 regime is the q54 argument.
    * Thresholds far below 1 lower LSH recall — compose with
    * [[bruteTopK]] when the eval set is small enough to brute-force.
    */
  def semanticDecontaminate(train: DataFrame, evalSet: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double, bits: Int = 8,
                            dim: Int = 64, tables: Int = 8): DataFrame = {
    val t = lshKeyed(train, Seq(col(idCol).as("__tid")), vecCol, "tv", bits,
      dim, tables)
    val e = lshKeyed(evalSet, Nil, vecCol, "ev", bits, dim, tables)
    val flagged = t.join(broadcast(e), Seq("key"))
      .filter(cosine(col("tv"), col("ev")) >= lit(threshold))
      .select(col("__tid").as(idCol)).distinct()
    // the flag set is the CONTAMINATED subset — typically tiny, and
    // AQE broadcasts it at runtime; no explicit hint, so a
    // mass-contaminated corpus degrades to a shuffle, never an OOM
    train.join(flagged, Seq(idCol), "left_anti")
  }

  /** Approximate top-k: candidates share an LSH bucket with the query in
    * any of the hash tables, then exact cosine ranks them. The query
    * side is broadcast; the corpus is scanned once and shuffles only the
    * (table_id, bucket)-matched candidates. Planes are PORTABLE
    * ([[graft.functions.SrpSignatures]]): every plane
    * sign derives from the two-round multiplicative hash of its
    * coordinate, so bucket choice — and with it the whole candidate
    * set and final (cosine, id) ranking — replays in plain SQL (q136).
    *
    * Hot-bucket note: unlike the self-join family (see
    * [[cosineNearDupPairs]] / NearDup.capBuckets), a degenerate corpus
    * bucket here cannot go N² — candidates are bounded by corpus ×
    * queries, the brute-force bound, and the query side is an explicit
    * small batch. A mass-duplicated corpus direction inflates one
    * query's candidate list at worst to the brute scan it replaces.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, bits: Int = 8, dim: Int = 64,
              tables: Int = 8): DataFrame = {
    val c = lshKeyed(corpus, Seq(col(idCol).as("neighbor_id")), vecCol, "cv",
      bits, dim, tables)
    val q = lshKeyed(queries, Seq(col(idCol).as("query_id")), vecCol, "qv",
      bits, dim, tables)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("key"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("cv"), col("qv")).as("sim"))
      .distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Per-DIMENSION standardization of an embedding column, long format
    * `(id, dim, z)` with `z = (x − mean_dim) / std_dim` — the feature
    * normalization run before clustering or IVF training so no single
    * high-variance dimension dominates the metric. Shape: posexplode to
    * (dim, x), one 64-row (dim-count-row) stats aggregate, broadcast
    * join back — the corpus streams twice and shuffles only the
    * per-dim partial aggregates, never the vectors.
    *
    * Determinism: sums and sums-of-squares accumulate in exact decimal
    * ([[graft.Exprs.dsum]]); mean/variance/sqrt/divide are then single
    * IEEE operations on identical doubles, so `z` is bit-exact across
    * partitionings and engines with no rounding step.
    */
  def standardizeDims(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val x = emb
      .select(col(idCol), posexplode(toDouble(col(vecCol))))
      .select(col(idCol), (col("pos") + 1).cast("long").as("dim"),
        col("col").as("x"))
    val mean = graft.Exprs.dsum(col("x")) / count(lit(1))
    val meanSq = graft.Exprs.dsum(col("x") * col("x")) / count(lit(1))
    val stats = x.groupBy("dim")
      .agg(mean.as("mean"), meanSq.as("mean_sq"))
      .select(col("dim"), col("mean"),
        sqrt(col("mean_sq") - col("mean") * col("mean")).as("std"))
    x.join(broadcast(stats), Seq("dim"))
      .select(col(idCol), col("dim"),
        ((col("x") - col("mean")) / col("std")).as("z"))
  }

  /** Exact squared-L2 top-k — the distance-matched yardstick for the
    * IVFADC family ([[Pq.ivfPqTopK]], [[IvfPq.probe]] rank by squared
    * L2, so a recall audit against the COSINE [[bruteTopK]] would
    * conflate metric mismatch with quantization loss). Same shape as
    * [[bruteTopK]]: corpus × broadcast(query batch), per-query window
    * top-k; the distance is the same fold-ordered double sum as
    * [[Pq.exactRerank]] (0.0 + t₁ + … in dimension order), ties break
    * to the lowest neighbor id, so the ranking replays in SQL.
    */
  def bruteTopKL2(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id"))
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, t) => acc + t).as("dist"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** ANN quality audit: per-query recall of an approximate ranking
    * against the exact one — the number that decides nprobe/bits/k
    * tradeoffs BEFORE an index ships, and the regression gate a
    * persisted [[IvfPq]] state is re-audited with after distribution
    * drift. Both inputs are (query_id, neighbor_id, rnk) frames
    * (ranks are ignored — recall@k is set overlap at the list sizes
    * the inputs carry). Output: one row per query
    * `(query_id, n_exact, n_hit, recall)`. Scale shape: both inputs
    * are queries×k rows — the join and aggregate never touch the
    * corpus.
    */
  def annRecall(ann: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(ann.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("__hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact"))

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    * hybrid-retrieval combiner: each input ranking contributes
    * `1/(k + rank)` per document and the fused score is the sum, so a
    * document near the top of ANY list surfaces without score
    * calibration across retrieval families (BM25 scores and cosines
    * are not comparable; ranks are). Inputs are (idCol, rnk) frames —
    * top-N slices, so the union is tiny regardless of corpus size.
    *
    * Determinism: each contribution is one exact-rounded IEEE division,
    * and the cross-list sum runs in DECIMAL(30,15) (a double sum's
    * partial-aggregation order varies run to run); ties in the fused
    * score break on id.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val acc = org.apache.spark.sql.types.DecimalType(30, 15)
    val scored = rankings.map(_.select(col(idCol),
      (lit(1.0) / (lit(k) + col("rnk"))).cast(acc).as("__s")))
    scored.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(col("__s")).cast("double").as("rrf"),
        count(lit(1)).as("lists"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(topK)
  }
}
