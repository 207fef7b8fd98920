package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED IVF-PQ ANN index lifecycle (the standing-pipeline form of
  * [[Pq.ivfPqTopK]], mirroring [[graft.dedup.PrefixIndex]]'s state
  * discipline for set similarity): the trained quantizers and the
  * encoded corpus live in plain persisted tables, so serving reads the
  * codes and a daily embedding append re-encodes ONLY the batch —
  * instead of the one-shot path's train-plus-encode of the whole
  * corpus inside every query, which at 100 TB is an O(corpus) scan per
  * probe batch.
  *
  * Correctness story — why a FROZEN codebook is exact for the rank it
  * serves: the IVFADC ranking is a pure function of (codebooks, codes,
  * queries). Encoding is deterministic per row ([[graft.functions.PqCodes]]:
  * fixed fold, first-min argmin), so a batch encoded TODAY under the
  * frozen codebooks produces exactly the rows encoding it at build time
  * would have — `probe(build(base) then applyDelta(batch))` is
  * bit-identical to the one-shot `ivfPqTopK(base ∪ batch)` ranked under
  * base-trained codebooks. What drifts is quantization QUALITY, not
  * correctness: as the corpus distribution moves away from the build
  * snapshot, cells skew and ADC error grows — the standard IVF
  * operations answer (monitor cell occupancy via `codes.groupBy
  * (list_id)`, periodic offline [[build]] refresh), the same
  * rebuild-when-it-matters contract PrefixIndex documents for its
  * frozen gram order.
  *
  * State shape (all caller-persisted — parquet in the tests, bucketed
  * tables in deployment; every column is a primitive, so the tables
  * round-trip any columnar store bit-exactly):
  *  - `coarse(code, j, cval)`: the `nlist × dim` coarse centroids in
  *    long format (code = list id, j = dimension).
  *  - `codebook(sub, code, j, cval)`: the `m × k × (dim/m)` product
  *    codebook in long format.
  *  - `codes(idCol, list_id, sub, code)`: the encoded corpus — m rows
  *    per vector, 1 + m small ints each, APPEND-ONLY (a batch appends
  *    its own rows and touches nothing else; [[stageCodes]] exposes
  *    exactly the rows to append).
  *
  * Scale shape: [[build]] is the only corpus-sized job (two bounded
  * `k`-vector codebook collects + one narrow encode pass).
  * [[applyDelta]] is one narrow projection over the batch.
  * [[probe]] collects the two codebook tables to the driver — bounded
  * by `nlist·dim + m·k·(dim/m)` rows, NEVER the corpus — and runs
  * [[Pq.ivfAdcRank]] against the persisted codes: the probe-restricted
  * equi-join scans only the probed cells' code rows, and the corpus
  * vectors themselves are never read at serve time.
  *
  * Determinism: the codebooks come from the engine-portable hash pick
  * ([[Pq.pqTrain]]) and ride exact doubles through the state tables, so
  * the whole lifecycle — build, delta encode, probe — replays in plain
  * SQL and hash-oracles end-to-end (q276), exactly like the one-shot
  * q129. Ids must be unique across the base and all batches (a
  * reappearing id means "this vector replaced itself" — run
  * [[graft.operators.Dedup]] first, as with PrefixIndex).
  */
object IvfPq {

  /** The persisted state: see the object doc for column contracts. */
  final case class State(coarse: DataFrame, codebook: DataFrame,
                         codes: DataFrame)

  /** One-time (or periodic-rebuild) state construction: train both
    * quantizers on the standing corpus (swap in [[Pq.kmeansTrain]]
    * codebooks by building the tables from its output without changing
    * the delta or probe paths) and encode it. The only corpus-sized job
    * in the lifecycle.
    */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            nlist: Int = 16, m: Int = 8, k: Int = 16): State = {
    val coarseCb = Pq.pqTrain(emb, idCol, vecCol, m = 1, k = nlist)
    val pqCb = Pq.pqTrain(emb, idCol, vecCol, m = m, k = k)
    val spark = emb.sparkSession
    State(coarseTable(spark, coarseCb), pqTable(spark, pqCb),
      Pq.encodeIvfPq(emb, idCol, vecCol, coarseCb, pqCb)
        .localCheckpoint(true))
  }

  /** The batch's own code rows under the FROZEN codebooks — what a
    * deployment APPENDS to the codes table per batch (exposed so the
    * append stays O(batch); [[applyDelta]] uses exactly these rows).
    * One narrow projection over the batch; the standing corpus is
    * never touched.
    */
  def stageCodes(state: State, batch: DataFrame, idCol: String,
                 vecCol: String): DataFrame =
    Pq.encodeIvfPq(batch, idCol, vecCol, coarseOf(state), pqOf(state))

  /** State update for one appended batch: encode it under the frozen
    * codebooks and append. The codebook tables are untouched — only
    * the codes table grows, by m rows per batch vector.
    */
  def applyDelta(state: State, batch: DataFrame, idCol: String,
                 vecCol: String): State =
    State(state.coarse, state.codebook,
      state.codes.unionByName(
        stageCodes(state, batch, idCol, vecCol).localCheckpoint(true)))

  /** IVFADC top-k over the PERSISTED codes — the serving face: the
    * corpus side is the already-encoded state, so no vector is read
    * and nothing is re-trained; the plan is the one-shot
    * [[Pq.ivfPqTopK]] minus its encode stage (shared
    * [[Pq.ivfAdcRank]]). Chain [[Pq.exactRerank]] on the result for
    * the recall-restoring final stage, exactly as with the one-shot.
    */
  def probe(state: State, queries: DataFrame, idCol: String,
            vecCol: String, nprobe: Int, topK: Int): DataFrame =
    Pq.ivfAdcRank(state.codes.withColumnRenamed(idCol, "neighbor_id"),
      queries, idCol, vecCol, coarseOf(state), pqOf(state), nprobe, topK)

  /** Long-format table of an `m = 1` coarse codebook. */
  private def coarseTable(spark: SparkSession,
                          cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    cb.head.zipWithIndex.flatMap { case (cent, c) =>
      cent.zipWithIndex.map { case (v, j) => (c, j, v) }
    }.toSeq.toDF("code", "j", "cval").localCheckpoint(true)
  }

  /** Long-format table of an `m × k × sub` product codebook. */
  private def pqTable(spark: SparkSession,
                      cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    (for {
      s <- cb.indices; c <- cb(s).indices; j <- cb(s)(c).indices
    } yield (s, c, j, cb(s)(c)(j)))
      .toDF("sub", "code", "j", "cval").localCheckpoint(true)
  }

  /** Reassemble the coarse codebook from its table — a bounded collect
    * of `nlist · dim` rows (the codebook, never the corpus), keyed by
    * (code, j) so row order is irrelevant.
    */
  private def coarseOf(state: State): Array[Array[Array[Double]]] = {
    val rows = state.coarse.select(col("code"), col("j"), col("cval"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    require(rows.nonEmpty, "empty coarse codebook table")
    val nlist = rows.iterator.map(_._1).max + 1
    val dim = rows.iterator.map(_._2).max + 1
    require(rows.length == nlist * dim,
      s"coarse table incomplete: ${rows.length} rows for $nlist x $dim")
    val a = Array.ofDim[Double](nlist, dim)
    rows.foreach { case (c, j, v) => a(c)(j) = v }
    Array(a)
  }

  /** Reassemble the product codebook — a bounded collect of
    * `m · k · (dim/m)` rows, keyed by (sub, code, j).
    */
  private def pqOf(state: State): Array[Array[Array[Double]]] = {
    val rows = state.codebook
      .select(col("sub"), col("code"), col("j"), col("cval"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getDouble(3)))
    require(rows.nonEmpty, "empty product codebook table")
    val m = rows.iterator.map(_._1).max + 1
    val k = rows.iterator.map(_._2).max + 1
    val sub = rows.iterator.map(_._3).max + 1
    require(rows.length == m * k * sub,
      s"codebook table incomplete: ${rows.length} rows for $m x $k x $sub")
    val a = Array.ofDim[Double](m, k, sub)
    rows.foreach { case (s, c, j, v) => a(s)(c)(j) = v }
    a
  }
}
