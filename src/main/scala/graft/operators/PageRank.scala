package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** PageRank — the link-graph centrality web-corpus pipelines use as a
  * document quality weight (harmonic/PageRank centrality over the crawl
  * graph is a standard ingredient of crawl-data filtering). Simple
  * variant: no dangling-mass redistribution (a sink node's mass leaks;
  * with symmetric edge construction every node has out-degree > 0 and
  * the variant coincides with the classic one).
  *
  * Shape per iteration: one equi-join of the edge list with the rank
  * vector on `src` (plus the broadcast-able out-degree table) and one
  * aggregate on `dst` — the standard distributed PageRank step; nothing
  * ever collects to the driver, and the node count rides along as a
  * one-row cross join. Edges and nodes are persisted once across
  * iterations. For DEEP iteration counts compose with the checkpoint
  * pattern of [[ConnectedComponents]] (each iteration extends the lazy
  * plan here — fine for the handful of rounds rank scores need to
  * stabilize for filtering purposes).
  *
  * Determinism (what makes a distributed PageRank oracle-able): the
  * per-edge contribution `r/outdeg` is cast to DECIMAL(30,15) and
  * summed EXACTLY (order-independent on any partitioning — a plain
  * double sum is not associative), and every remaining step is
  * exactly-rounded IEEE arithmetic evaluated in the SQL twin's operand
  * order. No transcendentals anywhere; the final 9 dp round is only a
  * hash-compare convenience.
  */
object PageRank {
  private val Acc = DecimalType(30, 15)

  /** Rank every node of the directed edge list after `iters` power
    * iterations from the uniform start. Output: (id, rank), rank
    * rounded to 9 dp.
    *
    * At convergence-grade depth (`iters >= 3`) the edge table is
    * cached RE-EXCHANGED ON src so each iteration's src-key join reads
    * the cache's partitioning and only the |V|-sized rank vector moves
    * (distinct leaves the table hashed on (src, dst), which the src
    * join cannot reuse). That repartition is one extra |E| exchange at
    * build time, amortized over the iterations it saves — the
    * interleaved A/B (`git checkout c6a12ee && sbt 'runMain
    * graft.AbBench q145_pagerank v145_unpartitioned'`) shows a wash at
    * iters = 2 (medians within 2.5%, 2-3 win split), so shallow runs
    * skip it and convergence-grade runs (10-30 rounds) pay the
    * exchange once and save it every round. A broadcast of ranks is
    * deliberately NOT the answer — |V| stops fitting the moment the
    * graph does.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85): DataFrame =
    pageRankOn(edges, srcCol, dstCol, iters, damping, pin = iters >= 3)

  /** [[pageRank]] with the src pre-exchange forced on or off —
    * package-private so the spec can pin both paths at one depth;
    * results are bit-identical either way, only the plan differs.
    */
  private[operators] def pageRankOn(edges: DataFrame, srcCol: String,
                                    dstCol: String, iters: Int,
                                    damping: Double,
                                    pin: Boolean): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dedup = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    // Persists stay LAZY deliberately. Hypothesis tested in r11: the
    // first job's independent stages (out-degree agg, node build,
    // first contribution join) race the cold cache and might each
    // re-run the expensive edge build, so eager `e.count()` +
    // `nodes.count()` should help. A/B at sf0.1 (eager vs
    // v145_unpartitioned's lazy shape at c6a12ee, 5 interleaved
    // rounds) says NO: lazy wins 4/5, medians 6.54 s vs 7.10 s — the
    // block manager's per-partition cache locking already makes
    // concurrent cold reads compute each partition exactly once, so
    // the counts only add two full cache scans of overhead.
    val e = (if (pin) dedup.repartition(col("src")) else dedup)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outd = e.groupBy("src").agg(count(lit(1)).as("od"))
    val nn = nodes.agg(count(lit(1)).as("nn"))
    var ranks = nodes.crossJoin(nn)
      .select(col("id"), (lit(1.0) / col("nn")).as("r"))
    var it = 0
    while (it < iters) {
      // Per-SRC contribution value (r/outdeg, quantized to the exact
      // DECIMAL grid) computed on the |V|-sized rank table BEFORE the
      // edge join: the division and the decimal cast are a pure
      // function of src, so evaluating them per EDGE (as the join-
      // then-project order did) repeated identical work |E|/|V| times
      // — measured 27+ CPU-s per iteration at sf0.1, dominated by
      // exactly this (§2.3: put per-key work on the key table, ship
      // the result). Same value per src, same decimal sum per dst —
      // bit-identical output.
      val perSrc = ranks.withColumnRenamed("id", "src")
        .join(outd, Seq("src"))
        .select(col("src"), (col("r") / col("od")).cast(Acc).as("__c"))
      val contrib = e
        .join(perSrc, Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("__c")).cast("double").as("m"))
      ranks = nodes.crossJoin(nn)
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          ((lit(1.0) - lit(damping)) / col("nn")
            + lit(damping) * coalesce(col("m"), lit(0.0))).as("r"))
      it += 1
    }
    ranks.select(col("id"), round(col("r"), 9).as("rank"))
  }
}
