package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spectral preprocessing for embedding columns: the dominant
  * direction of the (uncentered) Gram matrix by power iteration, and
  * each vector's projection onto it — the "common direction" that
  * All-but-the-Top removal subtracts before similarity search (Mu &
  * Viswanath 2018; Arora et al. 2017's sentence-embedding baseline
  * does the same to sentence vectors). A corpus whose embeddings
  * share a dominant component sees inflated cosines everywhere;
  * reporting (and removing) the top direction is the standard fix.
  * Center first (q116's standardizer) for true PCA.
  *
  * Scale shape: the Gram matrix is a `(i, j)` aggregate of the
  * exploded vectors — dim² cells regardless of corpus size, built in
  * one map-side-combinable pass; power iteration then runs on
  * dim-row DataFrames (a join + grouped sum per step — the rank
  * vector never exceeds the dimensionality), and the projection is
  * one explode-join-regroup over the corpus. Nothing quadratic in
  * rows, no driver-side numerics: every sum rides DECIMAL(18,6)
  * (order-independent, the q145 discipline — products of doubles are
  * exact IEEE so nothing else needs rounding), so the whole chain —
  * Gram, every iteration, the final scores — replays exactly in a
  * SQL oracle.
  */
object Spectral {

  /** Uncentered Gram matrix `(i, j, c)` of a vector column:
    * `c = Σ_rows x_i·x_j`, each product quantized to DECIMAL(18,6) by
    * the sum (order-independent; products of doubles are exact IEEE,
    * so no pre-round is needed — the q145 discipline). Only the upper
    * triangle is generated and aggregated (the corpus-sized half of
    * the work); the lower triangle is mirrored from the aggregated
    * dim²-row table, which is free. dim² output rows.
    */
  def gram(df: DataFrame, vecCol: String): DataFrame = {
    val upper = fanVectors(df, vecCol)
      .select(posexplode(col("__v")).as(Seq("i", "xi")), col("__v"))
      .select(col("i").cast("long").as("i"),
        posexplode(col("__v")).as(Seq("j", "xj")), col("xi"))
      .filter(col("j") >= col("i"))
      .select(col("i"), col("j").cast("long").as("j"),
        (col("xi") * col("xj")).as("__p"))
      .groupBy("i", "j")
      .agg(graft.Exprs.dsum(col("__p")).as("c"))
    upper.unionByName(upper.filter(col("j") > col("i"))
      .select(col("j").as("i"), col("i").as("j"), col("c")))
  }

  /** The vector column as `__v: array<double>`, under the
    * scan-parallelism floor (Par.fan): [[gram]]'s dim²/2-way pair
    * explode multiplies every row ~2080× (dim 64) — on a single-file
    * input that whole expansion and the cell partial-aggregate run on
    * ONE core. Fan the COMPACT vectors first (§2.3: shuffle few bytes,
    * expand after), keyed by the whole vector (the id column is not in
    * scope here; a single coordinate can be constant and would
    * collapse the fan to one partition). No-op at scale.
    */
  private[sim] def fanVectors(df: DataFrame, vecCol: String): DataFrame =
    graft.operators.Par.fan(
      df.select(Similarity.toDouble(col(vecCol)).as("__v")), col("__v"))

  /** Dominant eigendirection of a `(i, j, c)` Gram table by `iters`
    * power-iteration steps from the all-ones vector (deterministic —
    * and never orthogonal to the top direction of a PSD Gram unless
    * every column sum is exactly 0). Returns `(j, v)`, unit under the
    * same quantized norm the oracle computes. The whole loop builds
    * ONE lazy plan over dim-row frames; `gram` should be checkpointed
    * by the caller if it is expensive (it is read every iteration).
    */
  def powerTopVec(gram: DataFrame, dim: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = gram.sparkSession
    import spark.implicits._
    var v = (0 until dim).map(j => (j.toLong, 1.0)).toDF("j", "v")
    for (_ <- 1 to iters) {
      val unnorm = gram.join(v, Seq("j"))
        .select(col("i"), (col("c") * col("v")).as("__p"))
        .groupBy("i").agg(graft.Exprs.dsum(col("__p")).as("u"))
      val nrm = unnorm
        .agg(sqrt(graft.Exprs.dsum(col("u") * col("u"))).as("n"))
      v = unnorm.crossJoin(broadcast(nrm))
        .select(col("i").as("j"), (col("u") / col("n")).as("v"))
    }
    v
  }

  /** Per-row projection onto a `(j, v)` direction:
    * `(id, pc1 = round(Σ_j x_j·v_j, 6))` decimal-summed — the score
    * whose vector multiple All-but-the-Top subtracts.
    */
  def project(df: DataFrame, idCol: String, vecCol: String,
              direction: DataFrame): DataFrame =
    // fan by id before the dim-way explode + grouped sum: the groupBy
    // below reuses the fan's partitioning (one exchange total) and the
    // explode runs wide. No-op at scale.
    graft.operators.Par.fan(df.select(col(idCol), col(vecCol)), col(idCol))
      .select(col(idCol),
        posexplode(Similarity.toDouble(col(vecCol))).as(Seq("j", "x")))
      .select(col(idCol), col("j").cast("long").as("j"), col("x"))
      .join(broadcast(direction), Seq("j"))
      .select(col(idCol), (col("x") * col("v")).as("__p"))
      .groupBy(col(idCol))
      .agg(round(graft.Exprs.dsum(col("__p")), 6).as("pc1"))
}
