package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization for embedding columns (Jégou et al. 2011,
  * "Product Quantization for Nearest Neighbor Search"): split each
  * vector into `m` subvectors, quantize every subvector to its nearest
  * of `k` per-subspace centroids, and keep only the `m` small codes —
  * a 64-dim float vector becomes 8 bytes, the compression that lets a
  * 100 TB embedding corpus sit in memory for ANN serving.
  *
  * Codebook: a deterministic sample — the `k` corpus vectors with the
  * smallest id hash under the ENGINE-PORTABLE two-constant hash
  * ([[graft.operators.Sample.hashMod]]), so codebook selection,
  * distances, and argmin are all replayable in plain SQL: the ENCODE
  * step is fully oracle-checked (q124), not rows-only. Swap in offline k-means without changing the encode or
  * query paths.
  *
  * Determinism contract for the oracle: distances accumulate as a
  * sequential left fold of `(x−c)²` in DOUBLE (float→double casts are
  * exact, fold order fixed), and the argmin breaks ties by LOWEST code
  * (`array_position` finds the first minimum; the SQL twin orders by
  * `(dist, code)`), so the integer codes are bit-portable.
  */
object Pq {

  /** `m × k × (dim/m)` codebook: the `k` hash-smallest corpus vectors,
    * in hash order (code = rank in that order), split into `m`
    * subvectors. Collected to the driver — `k` vectors, not the corpus.
    */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, k: Int = 16): Array[Array[Array[Double]]] = {
    val centroids = emb
      .select(col(idCol), Similarity.toDouble(col(vecCol)).as("v"))
      .orderBy(graft.operators.Sample.hashMod(col(idCol), 1000000L), col(idCol))
      .limit(k)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(centroids.nonEmpty, "pqTrain needs a non-empty corpus")
    val dim = centroids.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    Array.tabulate(m, centroids.length) { (s, c) =>
      centroids(c).slice(s * sub, (s + 1) * sub)
    }
  }

  /** Lloyd's k-means refinement of the [[pqTrain]] codebook — the
    * production-quality training the hash-pick codebook stands in for.
    * Each iteration assigns every training vector's `m` subvectors to
    * their nearest centroids (the same fused native
    * [[graft.functions.PqCodes]] projection the encode path uses) and
    * recomputes each centroid as the mean of its assigned subvectors;
    * `iters = 0` degenerates to [[pqTrain]] exactly.
    *
    * DETERMINISM — the property that makes a distributed k-means
    * oracle-able at all: floating-point summation order is pinned
    * everywhere. Assignment distances are [[graft.functions.PqCodes]]'s
    * fixed fold; the per-centroid mean is a left fold of `0.0 + v₁ +
    * v₂ + …` over values sorted by vector id (collect → sort → fold,
    * never a partial-aggregation `sum` whose combine order varies
    * run-to-run), divided by the count. A DuckDB replay of the same
    * folds reproduces every centroid BIT-identically, so codes encoded
    * with a trained codebook hash-match plain SQL (q131) — see the
    * q131 oracle for the unrolled-iteration SQL twin. An empty cluster
    * keeps its previous centroid (both sides).
    *
    * SCALE: each iteration is one job — explode the training set to
    * `N·dim` (id, subspace, dim, value) rows, map-side-attach the
    * assignment code, and shuffle into `m·k·dim/m` groups whose
    * per-group sorted arrays drive the fold. The sorted-array mean is
    * O(cluster size) memory per group, which is why this trains on a
    * SAMPLE by design — pass a deterministic sample
    * ([[graft.operators.Sample]]) of ≤~1M vectors, the standard PQ
    * training regime (Jégou et al. train on a learning subset, not the
    * corpus); encode/serve then run over the full corpus with the
    * frozen codebook.
    */
  def kmeansTrain(emb: DataFrame, idCol: String, vecCol: String,
                  m: Int = 8, k: Int = 16, iters: Int = 4): Array[Array[Array[Double]]] = {
    var cb = pqTrain(emb, idCol, vecCol, m, k)
    val sub = cb.head.head.length
    var it = 0
    while (it < iters) {
      val stats = emb
        .select(col(idCol).as("__id"),
          graft.functions.PqCodes.of(col(vecCol), cb).as("__codes"),
          posexplode(Similarity.toDouble(col(vecCol))))
        .select(col("__id"),
          (col("pos") / sub).cast("int").as("s"),
          pmod(col("pos"), lit(sub)).cast("int").as("j"),
          element_at(col("__codes"), (col("pos") / sub).cast("int") + 1).as("code"),
          col("col").as("v"))
        .groupBy("s", "code", "j")
        .agg(count(lit(1)).as("cnt"),
          aggregate(
            transform(
              array_sort(collect_list(struct(col("__id").as("i"), col("v").as("v")))),
              st => st.getField("v")),
            lit(0.0), (acc, x) => acc + x).as("fsum"))
        .select(col("s"), col("code").cast("int").as("c"), col("j"),
          (col("fsum") / col("cnt")).as("cval"))
        .collect()
      val next = Array.tabulate(m, k, sub)((s, c, j) => cb(s)(c)(j))
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      cb = next
      it += 1
    }
    cb
  }

  /** Mean squared quantization error of a codebook over a corpus — the
    * objective Lloyd's descends; the training-quality witness the spec
    * asserts (monotone non-increasing across iterations).
    */
  def quantizationError(emb: DataFrame, idCol: String, vecCol: String,
                        codebook: Array[Array[Array[Double]]]): Double = {
    val k = codebook.head.length
    val sub = codebook.head.head.length
    // flat(s*k*sub + c*sub + j) == codebook(s)(c)(j), as a (small:
    // m·k·sub doubles) array literal for a declarative lookup
    val flat = typedLit(codebook.flatMap(_.flatMap(_.toSeq)).toSeq)
    emb
      .select(
        graft.functions.PqCodes.of(col(vecCol), codebook).as("__codes"),
        posexplode(Similarity.toDouble(col(vecCol))))
      .select(
        (col("pos") / sub).cast("int").as("s"),
        pmod(col("pos"), lit(sub)).cast("int").as("j"),
        element_at(col("__codes"), (col("pos") / sub).cast("int") + 1)
          .cast("int").as("code"),
        col("col").as("v"))
      .select(
        ((col("v") - element_at(flat,
          col("s") * (k * sub) + col("code") * sub + col("j") + 1)) *
          (col("v") - element_at(flat,
            col("s") * (k * sub) + col("code") * sub + col("j") + 1))).as("se"))
      .agg(avg(col("se")))
      .head.getDouble(0)
  }

  /** Squared-L2 of a subvector against a literal centroid: sequential
    * left fold, bit-matched by the SQL twin's explicit term sum.
    */
  private def subDist(vd: Column, s: Int, sub: Int, cent: Array[Double]): Column =
    aggregate(
      zip_with(slice(vd, s * sub + 1, sub),
        array(cent.map(lit).toIndexedSeq: _*),
        (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, t) => acc + t)

  /** Long-format codes `(id, sub, code)` — one row per subspace, code =
    * index of the nearest centroid (ties to the lowest code). A pure
    * projection over the corpus: the codebook rides as an expression
    * FIELD of the fused native [[graft.functions.PqCodes]] (one
    * primitive loop per row — the composed m·k higher-order-function
    * tree ran interpreted at ~1 ms/row; measured 63 s → ~2 s on a
    * 64k-vector corpus), no join, no shuffle except the source's own.
    * Bit-identical to the composed form: same fold order, same
    * first-min argmin (PqCodes doc), so q124's oracle is unchanged.
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               codebook: Array[Array[Array[Double]]]): DataFrame =
    emb.select(col(idCol),
        posexplode(graft.functions.PqCodes.of(col(vecCol), codebook)))
      .select(col(idCol), col("pos").cast("long").as("sub"),
        col("col").as("code"))

  /** Full-vector k-means cluster assignment: the `m = 1` degenerate of
    * the PQ machinery IS Lloyd's k-means over whole vectors (one
    * subspace spanning every dimension), so assignment is a single
    * fused [[graft.functions.PqCodes]] projection — no join, no
    * shuffle, and bit-portable like every code in this file (fixed
    * fold, first-min argmin). Train the codebook with
    * `kmeansTrain(…, m = 1, k, iters)`.
    */
  def kmeansAssign(df: DataFrame, vecCol: String,
                   codebook: Array[Array[Array[Double]]],
                   clusterCol: String = "cluster"): DataFrame = {
    require(codebook.length == 1,
      s"full-vector assignment needs an m = 1 codebook, got m = ${codebook.length}")
    df.withColumn(clusterCol,
      element_at(graft.functions.PqCodes.of(col(vecCol), codebook), 1))
  }

  /** Cluster-balanced sampling: stratify the corpus by its OWN
    * embedding-space structure instead of a metadata column — train a
    * full-vector k-means codebook, assign every vector its cluster
    * ([[kmeansAssign]], a pure projection), and draw the deterministic
    * parts-per-million mixture sample that EQUALIZES cluster volumes
    * (every cluster contributes ~min-cluster-size rows). This is the
    * data-mixing step language/domain stratification cannot express:
    * semantic over-representation (boilerplate clusters, template
    * blobs) is downweighted even when metadata says nothing.
    *
    * Output: the sampled rows of `emb` plus `clusterCol`. Everything
    * downstream of training is declarative — the per-cluster rates come
    * from [[graft.operators.Sample.mixtureSample]]'s aggregate + AQE
    * broadcast-back join, no driver collect — and the id-hash ppm
    * verdict keeps the draw deterministic across cluster sizes, file
    * splits, and reruns. Training cost is `iters` jobs over the
    * training frame; at 100 TB pass a deterministic sample as `emb`'s
    * training stand-in via [[kmeansTrain]] directly and reuse the
    * frozen codebook here.
    */
  def clusterBalancedSample(emb: DataFrame, idCol: String, vecCol: String,
                            k: Int = 8, iters: Int = 1,
                            clusterCol: String = "cluster",
                            seed: Long = 67867967L): DataFrame = {
    val cb = kmeansTrain(emb, idCol, vecCol, m = 1, k = k, iters = iters)
    val assigned = kmeansAssign(emb, vecCol, cb, clusterCol)
      .withColumn("__graft_cluster_s", col(clusterCol).cast("string"))
    // equal weights: the mixture rate floor(1e6·w·tmax/cnt) is scale-
    // invariant in w, so 1.0 per cluster equalizes at max volume
    val weights = (0 until k).map(c => c.toString -> 1.0).toMap
    graft.operators.Sample.mixtureSample(
        assigned, idCol, "__graft_cluster_s", weights, seed)
      .drop("__graft_cluster_s")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by cluster-then-prune — k-means over L2-NORMALIZED
    * embeddings partitions the corpus into semantic neighborhoods, and
    * only WITHIN a cluster are pairwise cosines computed; a row is
    * dropped when a lower-id row in its cluster is more similar than
    * `threshold`. Catches what MinHash cannot: paraphrases and
    * re-encodings share no shingles but sit on the same direction.
    *
    * Clustering runs on unit vectors (direction only — a 1.5×-scaled
    * re-encode must land in its original's cluster, which raw-L2
    * k-means does not guarantee); the verify cosine runs on the RAW
    * vectors (cosine is scale-invariant, and skipping the normalize
    * keeps the verify replayable against un-normalized stores).
    *
    * Scale shape: the quadratic is confined to clusters — cost is
    * Σ n_c², the paper's own knob (k scales with N to bound n_c; at
    * 100 TB train the codebook on a deterministic sample via
    * [[kmeansTrain]] and raise k so clusters stay ~10⁴). Degenerate
    * clusters are trimmed by the same [[graft.dedup.NearDup.capBuckets]]
    * window the text-LSH family uses (a trimmed cluster forms no pairs —
    * its rows are all kept; mass-duplicated embeddings should hit exact
    * dedup first, same recall contract as capBuckets). The self-join is
    * hinted shuffle-hash on the cluster key — one exchange per side,
    * never a broadcast of the vector payload — and the dropped-id set
    * (≪ N) comes back as a LEFT ANTI join.
    *
    * Output: the kept rows of `emb` plus `clusterCol`.
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               k: Int = 8, iters: Int = 1, threshold: Double = 0.999,
               clusterCol: String = "cluster",
               maxClusterSize: Int = 10000): DataFrame = {
    val vd = Similarity.toDouble(col(vecCol))
    val withUnit = emb.withColumn("__unit",
      transform(vd, x => x / Similarity.norm(vd)))
    val cb = kmeansTrain(withUnit, idCol, "__unit", m = 1, k = k, iters = iters)
    val assigned = kmeansAssign(withUnit, "__unit", cb, clusterCol)
      .drop("__unit")
    val va = graft.dedup.NearDup.capBuckets(
        assigned.select(col(idCol), col(clusterCol), vd.as("__v")),
        Seq(clusterCol), maxClusterSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dropped = va
      .select(col(clusterCol), col(idCol).as("__id1"), col("__v").as("__v1"))
      .join(va.select(col(clusterCol), col(idCol).as("__id2"),
        col("__v").as("__v2")).hint("shuffle_hash"), Seq(clusterCol))
      .filter(col("__id1") < col("__id2"))
      .filter(Similarity.cosine(col("__v1"), col("__v2")) >= threshold)
      .select(col("__id2").as(idCol))
      .distinct()
      .localCheckpoint(true)
    va.unpersist()
    assigned.join(dropped, Seq(idCol), "left_anti")
  }

  /** Asymmetric-distance (ADC) approximate top-k: the query stays
    * exact, corpus vectors are represented by their codes. Per query,
    * a `k × m` lookup table of subdistances to every centroid (a tiny
    * cross join), then one equi-join on `(sub, code)` against the code
    * table and a sum per (query, doc) — candidates never form a cross
    * product with the corpus, and the corpus side is the 8-byte codes,
    * not the vectors.
    *
    * The per-pair total is NOT a plain `sum(d)`: partial-aggregation
    * order over doubles is nondeterministic, which would let ULP-level
    * reorderings flip near-tied ranks between runs (and vs the SQL
    * twin). Instead each subspace's distance lands in its own
    * conditional-`first` aggregate column (exactly one row per
    * (query, doc, sub), so `first` is total) and the m columns add in
    * a FIXED left-to-right chain — bit-deterministic, fully inside
    * whole-stage codegen, and replayed in DuckDB as
    * `list_reduce(list(d ORDER BY sub), +)` (q127's oracle; the
    * leading 0.0 of the SQL fold is exact under IEEE addition).
    */
  def pqTopK(codes: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, codebook: Array[Array[Array[Double]]],
             topK: Int): DataFrame = {
    val m = codebook.length
    val sub = codebook.head.head.length
    val qd = Similarity.toDouble(col(vecCol))
    // (query_id, sub, code, d): per-subspace distance lookup rows
    val lut = queries.select(col(idCol).as("query_id"), qd.as("qv"))
      .select(col("query_id"), posexplode(array((0 until m).map { s =>
        array(codebook(s).indices.map(c =>
          subDist(col("qv"), s, sub, codebook(s)(c))).toIndexedSeq: _*)
      }: _*)))
      .select(col("query_id"), col("pos").cast("long").as("sub"),
        posexplode(col("col")))
      .select(col("query_id"), col("sub"), col("pos").cast("long").as("code"),
        col("col").as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    val dcols = (0 until m).map(s =>
      first(when(col("sub") === s, col("d")), ignoreNulls = true).as(s"__d$s"))
    val adist = (0 until m).map(s => col(s"__d$s")).reduce(_ + _)
    codes.withColumnRenamed(idCol, "neighbor_id")
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(dcols.head, dcols.tail: _*)
      .withColumn("adist", adist)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** The production ANN serving stack as ONE operator: IVF coarse
    * pruning + PQ-ADC re-rank. [[pqTopK]] alone is a brute scan over
    * codes (every code row meets every query — its win is memory, not
    * pruning; see COVERAGE's ANN table); pairing it with an inverted
    * file means each query only scores the `nprobe`/`nlist` fraction
    * of the corpus whose coarse cell it probes — the Jégou et al. 2011
    * IVFADC layout.
    *
    * Everything is derived from the PORTABLE hash codebook
    * ([[pqTrain]]), including the coarse quantizer (`coarseCb` =
    * `pqTrain(emb, id, vec, m = 1, k = nlist)` — full-width
    * "subvectors" are exactly coarse centroids), so coarse assignment,
    * probe selection, subdistances, and the final ranking ALL replay
    * in SQL: the whole serving stack is hash-oracled end-to-end
    * (q129). Swap in
    * k-means codebooks without changing the plan.
    *
    * Scale shape: corpus side = one narrow projection emitting
    * (coarse cell, sub, code) from two native [[graft.functions.PqCodes]]
    * calls — 1 + m smallints per vector, never the vectors; probes and
    * the per-query LUT broadcast; the only exchange is the final
    * (query, neighbor) aggregate, whose input is already pruned to the
    * probed cells. Determinism: every distance is a fold-ordered
    * double sum, every argmin/rank ties to the lowest code/id
    * ([[pqTopK]] notes apply verbatim).
    */
  /** Exact re-rank of an ANN candidate list — the final stage of a
    * production serving stack (Jégou et al.'s ADC+R): the quantized
    * search ([[pqTopK]] / [[ivfPqTopK]] with `topK = R`, R ≈ 5-10× the
    * final k) nominates R candidates per query, then ONLY those
    * candidates are scored against the true vectors and re-ranked.
    * Quantization error caps ADC's within-cell resolution — near-tied
    * codes rank arbitrarily — so re-ranking is what lifts recall to
    * ~1 while still never scanning the corpus: the exact distance runs
    * on `queries × R` rows, not `queries × N`.
    *
    * Scale shape: the candidate list (queries·R rows of two ids) is
    * broadcast to the corpus scan — the corpus vectors never shuffle;
    * only the R-per-query matches leave the scan, and the per-query
    * window ranks those tiny groups. Determinism: squared-L2 is the
    * same fold-ordered double sum as everywhere else (0.0 + t₁ + … in
    * dimension order — exact under IEEE for the leading 0.0), ranking
    * ties break to the lowest neighbor id, so the re-ranked list
    * replays in SQL (q132).
    */
  def exactRerank(candidates: DataFrame, emb: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, topK: Int): DataFrame = {
    val docs = emb.select(col(idCol).as("neighbor_id"),
      Similarity.toDouble(col(vecCol)).as("__dv"))
    val qs = queries.select(col(idCol).as("query_id"),
      Similarity.toDouble(col(vecCol)).as("__qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist").asc, col("neighbor_id").asc)
    docs
      .join(broadcast(candidates.select("query_id", "neighbor_id")), Seq("neighbor_id"))
      .join(broadcast(qs), Seq("query_id"))
      .withColumn("dist",
        aggregate(zip_with(col("__qv"), col("__dv"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, t) => acc + t))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select("query_id", "neighbor_id", "rnk")
  }

  def ivfPqTopK(emb: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, coarseCb: Array[Array[Array[Double]]],
                pqCb: Array[Array[Array[Double]]], nprobe: Int,
                topK: Int): DataFrame =
    ivfAdcRank(
      encodeIvfPq(emb, idCol, vecCol, coarseCb, pqCb)
        .withColumnRenamed(idCol, "neighbor_id"),
      queries, idCol, vecCol, coarseCb, pqCb, nprobe, topK)

  /** `(idCol, list_id, sub, code)` code rows of a corpus under FROZEN
    * codebooks — one narrow pass, two native [[graft.functions.PqCodes]]
    * projections over the same scan, never a shuffle. This is the
    * write-once representation [[IvfPq]] persists: 1 + m smallints per
    * vector, bit-portable (fixed fold, first-min argmin), so encoding a
    * batch today reproduces exactly the rows encoding it at build time
    * would have.
    */
  private[graft] def encodeIvfPq(emb: DataFrame, idCol: String, vecCol: String,
                               coarseCb: Array[Array[Array[Double]]],
                               pqCb: Array[Array[Array[Double]]]): DataFrame = {
    require(coarseCb.length == 1, "coarseCb must be pqTrain(..., m = 1, ...)")
    emb.select(col(idCol),
        element_at(graft.functions.PqCodes.of(col(vecCol), coarseCb), 1)
          .as("list_id"),
        posexplode(graft.functions.PqCodes.of(col(vecCol), pqCb)))
      .select(col(idCol), col("list_id"),
        col("pos").cast("long").as("sub"), col("col").as("code"))
  }

  /** The query path of the IVFADC stack over an ALREADY-ENCODED corpus
    * (`codesSide` columns: neighbor_id, list_id, sub, code) — probes,
    * per-query LUT, probe-restricted ADC join, rank. Shared verbatim by
    * the one-shot [[ivfPqTopK]] and the persisted-state [[IvfPq.probe]],
    * so the state-backed plan is the one-shot plan minus the encode.
    */
  private[sim] def ivfAdcRank(codesSide: DataFrame, queries: DataFrame,
                              idCol: String, vecCol: String,
                              coarseCb: Array[Array[Array[Double]]],
                              pqCb: Array[Array[Array[Double]]], nprobe: Int,
                              topK: Int): DataFrame = {
    require(coarseCb.length == 1, "coarseCb must be pqTrain(..., m = 1, ...)")
    val m = pqCb.length
    val dim = coarseCb.head.head.length
    val nlist = coarseCb.head.length
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe must be in [1, $nlist]")
    // probes: the nprobe coarse cells nearest each query, ties to the
    // lowest cell id — same (dist, code) order the assign argmin uses
    val qd = Similarity.toDouble(col(vecCol))
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cdist").asc, col("list_id").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), qd.as("qv"))
      .select(col("query_id"), posexplode(array(
        coarseCb.head.indices.map(c =>
          subDist(col("qv"), 0, dim, coarseCb.head(c))).toIndexedSeq: _*)))
      .select(col("query_id"), col("pos").cast("long").as("list_id"),
        col("col").as("cdist"))
      .withColumn("prnk", row_number().over(pw))
      .filter(col("prnk") <= nprobe)
      .select("query_id", "list_id")
    // per-query subdistance LUT (as pqTopK), keyed by query for the
    // probe-restricted join
    val sub = pqCb.head.head.length
    val lut = queries.select(col(idCol).as("query_id"), qd.as("qv"))
      .select(col("query_id"), posexplode(array((0 until m).map { s =>
        array(pqCb(s).indices.map(c =>
          subDist(col("qv"), s, sub, pqCb(s)(c))).toIndexedSeq: _*)
      }: _*)))
      .select(col("query_id"), col("pos").cast("long").as("sub"),
        posexplode(col("col")))
      .select(col("query_id"), col("sub"), col("pos").cast("long").as("code"),
        col("col").as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    val dcols = (0 until m).map(s =>
      first(when(col("sub") === s, col("d")), ignoreNulls = true).as(s"__d$s"))
    val adist = (0 until m).map(s => col(s"__d$s")).reduce(_ + _)
    codesSide
      .join(broadcast(probes), Seq("list_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(dcols.head, dcols.tail: _*)
      .withColumn("adist", adist)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select("query_id", "neighbor_id", "rnk")
  }
}
