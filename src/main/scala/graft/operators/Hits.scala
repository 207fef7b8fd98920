package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
  * list — on a purchase bipartite graph, hub score measures a
  * customer's weighted breadth and authority a product's popularity
  * among high-breadth customers; the mutually-recursive complement to
  * [[PageRank]]'s single score.
  *
  * Deterministic variant: fixed iterations, SUM normalization (each
  * vector rescaled so its exact-decimal total is `1e6` — L1, not the
  * classic L2, so no square roots and every scale factor is a quotient
  * of decimal-exact operands), scores rounded to 6 dp at each
  * normalization — 6, not the house 9, because the next round CASTS
  * them to DECIMAL(18,6): a 9 dp value sits exactly on the 1e-9 grid
  * and hits the cast's half-way points at ~1/1000 per value, where
  * engines' decimal rounding legitimately differs (caught by the
  * sf0.01 gate: 3 of 3500 scores off by 1e-9); a 6 dp value casts
  * EXACTLY. Everything downstream of the first aggregate is a
  * pure function of the edge list — replayable in SQL by unrolling.
  * The ppm-style 1e6 scaling also keeps scores in a range where the
  * DECIMAL(18,6) accumulator retains 10+ significant digits (a
  * sum-to-1 normalization would quantize 1e-4-sized scores to two).
  *
  * Per half-iteration: one aggregate over the edge list joined to the
  * small score vector (AQE broadcasts it) + a one-row total — the
  * PageRank mass-sum discipline.
  */
object Hits {

  /** Half-rounds before the lazy-chain strategy switches to the
    * checkpointed one — see [[hits]]. iters=2 (4 half-rounds, the
    * registered shape) stays on the window form it A/B-wins at (4/4 at
    * sf0.1); convergence-grade depth (iters ≥ 4 ⇒ ≥ 8 half-rounds)
    * takes the per-round barrier instead.
    */
  val DeepIters = 4

  /** Score-table cardinality above which the deep normalization is
    * forced REGARDLESS of depth. The shallow window funnels all |V|
    * score rows through one task per half-round; the deep shape's cost
    * is a ~constant per-round checkpoint barrier. Interleaved A/B at
    * the registered depth (`git checkout c6a12ee && sbt 'runMain
    * graft.AbBench v176_deep2 v176_window2'`): at |V| ≈
    * 35k (sf0.1) the window wins 4/4; at |V| ≈ 350k (10× soak edge
    * list, 5.4M edges) it is down to 3/5 with medians 14.9 s vs 17.2 s
    * and a 32 s worst round — the window's local win is a shrinking
    * ~2 s constant (the barrier cost it avoids) while its funnel cost
    * grows linearly in |V|. 2M is one decade above the largest scale
    * measured still-winning; past it the projected funnel cost exceeds
    * the barrier cost it trades against, and erring deep is the
    * scale-safe side (at 10^9 vertices the window is catastrophic, the
    * barrier is still ~constant).
    */
  val DeepVertices = 2000000L

  /** Strategy pick: deep at convergence-grade depth OR whenever the
    * per-half-round score table is too large to window through one
    * task. Exposed for the gate's truth-table unit test.
    */
  private[graft] def chooseDeep(iters: Int, maxSideVertices: Long): Boolean =
    iters >= DeepIters || maxSideVertices > DeepVertices

  /** (kind ∈ {hub, authority}, id, score) after `iters` full rounds.
    * Hubs are `srcCol` nodes, authorities `dstCol` nodes.
    *
    * Two plan shapes, picked by depth AND graph size via
    * [[chooseDeep]] (the iteration-lineage rule, A/B'd both ways):
    *
    *  - SHALLOW (iters < [[DeepIters]]): each half-round's L1 total
    *    comes from a GLOBAL WINDOW, not a separate .agg + crossJoin —
    *    the agg form references `scores` twice, and with four
    *    lazily-chained half-rounds that doubling fans the
    *    re-derivation out 2^4× (the KCore lineage lesson, measured
    *    here too: 20 s → ~3 s at sf0.1). The window keeps each
    *    half-round a SINGLE reference, so the whole chain stays
    *    linear and needs no checkpoint barrier. Cost: the |V|-row
    *    single-partition window task — fine for 2 rounds, the
    *    bottleneck at 100× |V| and deep iteration.
    *  - DEEP (iters ≥ [[DeepIters]]): agg + broadcast crossJoin totals
    *    (every stage hash-distributed, no single-partition funnel)
    *    WITH an eager localCheckpoint per half-round — the checkpoint
    *    is what the lineage rule prescribes once a round references
    *    its input twice (agg + projection), and it also caps the plan
    *    at O(1) per round instead of O(2^halfRounds). A/B at iters=8
    *    (`git checkout c6a12ee && sbt 'runMain graft.AbBench
    *    v176_deep8 v176_window8'`, quiet box): deep 5/5 wins, median
    *    19.2 s vs 32.8 s at sf0.1.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).as("c"), col(dstCol).as("p"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Size the gate on the LARGER score side (hubs and authorities are
    // windowed separately, so the bigger one is what funnels). The two
    // counts are single passes over the persisted edge list and double
    // as the cache warm the first iteration join previously paid for.
    val nV = math.max(e.select(col("c")).distinct().count(),
                      e.select(col("p")).distinct().count())
    val out = hitsOn(e, iters, deep = chooseDeep(iters, nV))
      .localCheckpoint(true)
    e.unpersist()
    out
  }

  /** Iteration body over a pre-deduped, persisted edge list `e(c, p)`
    * — package-private so the spec can pin either strategy at any
    * depth; results are bit-identical between the two (same sums,
    * same 6 dp grid), only the plan differs.
    */
  private[operators] def hitsOn(e: DataFrame, iters: Int, deep: Boolean)
      : DataFrame = {
    def normalized(scores: DataFrame, idName: String): DataFrame =
      if (deep) {
        val tot = scores.agg(
          sum(col("s").cast(graft.Exprs.Money)).cast("double").as("__t"))
        scores.crossJoin(broadcast(tot))
          .select(col(idName),
            round(col("s") * lit(1000000.0) / col("__t"), 6).as("s"))
          .localCheckpoint(true)
      } else {
        val all = org.apache.spark.sql.expressions.Window.partitionBy()
        scores
          .withColumn("__t",
            sum(col("s").cast(graft.Exprs.Money)).over(all).cast("double"))
          .select(col(idName),
            round(col("s") * lit(1000000.0) / col("__t"), 6).as("s"))
      }

    // h0 = 1 per hub; each round: authorities from hubs, then hubs
    // from the fresh authorities
    var hubs = e.select(col("c")).distinct().withColumn("s", lit(1.0))
    var auths: DataFrame = null
    // The DECIMAL(18,6) quantization of a score is a pure function of
    // the NODE, not the edge — casting on the |V|-sized score table
    // before the join (instead of inside the per-edge dsum) does the
    // cast once per node instead of once per edge (§2.3; the PageRank
    // per-src-contribution rule). Same quantized addends, same sums —
    // bit-identical output.
    def sumJoined(scores: DataFrame, joinKey: String,
                  groupKey: String): DataFrame =
      e.join(scores.withColumn("__sd", col("s").cast(graft.Exprs.Money))
          .select(col(joinKey), col("__sd")), Seq(joinKey))
        .groupBy(col(groupKey))
        .agg(sum(col("__sd")).cast("double").as("s"))
    for (_ <- 1 to iters) {
      auths = normalized(sumJoined(hubs, "c", "p"), "p")
      hubs = normalized(sumJoined(auths, "p", "c"), "c")
    }
    hubs.select(lit("hub").as("kind"), col("c").as("id"),
        col("s").as("score"))
      .unionByName(auths.select(lit("authority").as("kind"),
        col("p").as("id"), col("s").as("score")))
  }
}
