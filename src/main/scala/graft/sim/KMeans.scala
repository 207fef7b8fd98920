package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-scale spherical Lloyd k-means over an embedding column — the
  * clustering primitive the curation stack leans on (SemDeDup's
  * cluster-confined dedup, cluster-balanced sampling, IVF coarse
  * quantizers all take a clustering as input). Complements
  * [[Pq.pqKMeans]], which trains per-SUBSPACE codebooks on a bounded
  * SAMPLE (collect–sort–fold means — the Jégou training regime): this
  * one clusters FULL vectors over the whole corpus with DISTRIBUTED
  * recentering, so cluster sizes of 10⁹ vectors never touch the
  * driver.
  *
  * Per iteration, exactly two jobs and no corpus shuffle of vectors:
  *  - ASSIGN: one fused [[graft.functions.CentroidScores]] projection
  *    against the literal centroid matrix (cosine score — `|v|` is
  *    rank-invariant per row); argmax by first-maximum index after a
  *    9-dp round (ties break to the LOWEST cluster id).
  *  - RECENTER: posexplode to (cluster, dim, x) and one map-side-
  *    combinable aggregate into k×dim groups — exact DECIMAL(30,15)
  *    sums (partial-order-independent), one closing IEEE division.
  *    Only k×dim rows reach the driver. Spherical assignment scores
  *    divide by the centroid norm, so unnormalized means ARE the
  *    correct spherical centroids.
  *
  * Initialization is the engine's deterministic portable-hash sample
  * ([[graft.operators.Sample.hashMod2]]-smallest ids — the q124
  * codebook discipline), so selection, fold-ordered scores, argmax
  * tiebreaks, and every recentered coordinate replay in plain SQL:
  * the whole TRAINED assignment is hash-oracled (q250), not
  * rows-only. An empty cluster keeps its previous centroid (both
  * sides of the oracle).
  *
  * Convergence: iterating stops early at an EXACT fixpoint (a
  * recenter step that moves no centroid), where the next assignment
  * is identical anyway — so early-stop == full-iters bit-for-bit
  * (unit-pinned) and the registered oracle is unaffected.
  *
  * Degenerate inputs fail loudly, never silently (the CentroidScores
  * score divides by the centroid norm — a zero-norm centroid would
  * yield NaN scores and `array_position` would emit cluster −1):
  * a zero vector among the init seeds is a `require` failure at init,
  * and a recentered mean that cancels to exactly zero keeps the
  * previous centroid, same as an empty cluster.
  *
  * Output: one row per input vector, `(idCol, cluster)` — the
  * assignment under the final recentered centroids.
  */
object KMeans {

  private def l2(v: Seq[Double]): Double =
    math.sqrt(v.map(x => x * x).sum)

  def fit(emb: DataFrame, idCol: String, vecCol: String, k: Int = 8,
          iters: Int = 2, seed: Long = 7L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val acc = DecimalType(30, 15)
    val v = emb
      .select(col(idCol), Similarity.toDouble(col(vecCol)).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // deterministic init: the k portable-hash-smallest vectors, in
    // hash order (cluster id = rank) — k rows collected, never the
    // corpus
    var cents: Seq[Seq[Double]] = v
      .orderBy(graft.operators.Sample.hashMod2(col(idCol), 1000000000L,
        seed), col(idCol))
      .limit(k)
      .select("__v")
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(cents.nonEmpty, "kMeans needs a non-empty corpus")
    require(cents.forall(l2(_) > 0),
      "kMeans init drew a zero vector — the spherical score divides " +
        "by centroid norms; drop zero embeddings upstream or reseed")
    val dim = cents.head.size

    def assign(): DataFrame = {
      val sc = transform(
        graft.functions.CentroidScores.scores(col("__v"),
          typedlit(cents)),
        s => round(s, 9))
      v.withColumn("__sc", sc)
        .withColumn("cluster",
          (array_position(col("__sc"), array_max(col("__sc"))) - 1)
            .cast("int"))
        .drop("__sc")
    }

    var assigned = assign()
    var it = 2
    var converged = false
    while (it <= iters && !converged) {
      // recenter: k×dim exact-decimal group means; empty clusters —
      // and zero-cancelled means, which the spherical score cannot
      // normalize — keep their previous centroid
      val stats = assigned
        .select(col("cluster"), posexplode(col("__v")).as(Seq("d", "x")))
        .groupBy("cluster", "d")
        .agg(sum(col("x").cast(acc)).cast("double").as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.toArray).toArray
      stats.groupBy(_.getInt(0)).foreach { case (c, rows) =>
        val arr = new Array[Double](dim)
        rows.foreach(r => arr(r.getInt(1)) =
          r.getDouble(2) / r.getLong(3).toDouble)
        if (l2(arr.toSeq) > 0) next(c) = arr
      }
      val shift = cents.lazyZip(next).map { (a, b) =>
        l2(a.lazyZip(b).map(_ - _).toSeq)
      }.max
      if (shift == 0.0) converged = true
      else {
        cents = next.map(_.toSeq).toSeq
        assigned = assign()
      }
      it += 1
    }
    val out = assigned
      .select(col(idCol), col("cluster").cast("long").as("cluster"))
      .localCheckpoint(true)
    v.unpersist()
    out
  }
}
