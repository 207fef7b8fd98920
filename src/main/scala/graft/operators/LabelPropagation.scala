package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) for community
  * detection — the cheap complement to [[ConnectedComponents]] (which
  * finds reachability, not densely-connected groups) and
  * [[PageRank]] (which ranks, not partitions).
  *
  * DETERMINISTIC variant: all nodes update simultaneously from the
  * previous round's labels (classic async LPA is order-dependent and
  * irreproducible), each node adopts the most frequent neighbor label
  * with ties broken by the SMALLEST label, and the iteration count is
  * fixed. That makes the whole run a pure function of (edges, iters) —
  * replayable in SQL by unrolling the rounds, and identical across
  * cluster topologies and partition counts.
  *
  * Scale shape per round: one join of the edge list against the label
  * table (labels are one row per node — broadcast when the node set
  * fits, shuffle otherwise; AQE decides from actual sizes) and one
  * dst-partitioned count+argmax that share a single exchange (the
  * (dst,label) grouping rides the dst repartition). Edges are
  * persisted once; K rounds = K narrow passes, the
  * ConnectedComponents iteration discipline.
  */
object LabelPropagation {

  /** Run `iters` synchronous rounds; returns (id, community).
    * Edges are treated as UNDIRECTED (both orientations count toward
    * neighbor-label frequency). Nodes = edge endpoints.
    */
  def propagate(edges: DataFrame, srcCol: String, dstCol: String,
                iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // rounds chain LAZILY on purpose: each round references the
    // previous labels exactly ONCE, so lineage depth grows linearly
    // with no fan-out, and an interleaved A/B (v162_lazy_chain at
    // c6a12ee, 4 rounds at sf0.1) showed a checkpoint-per-round
    // rewrite of this loop LOSES (medians 3.48 s lazy vs 4.28 s
    // checkpointed — the per-round materialization barrier outweighs
    // the replanning it saves). Contrast KCore, where the degree
    // union references its input TWICE per round — exponential
    // fan-out — and the same rewrite won 6x. The rule is the
    // reference count, not the loop.
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("community", col("id"))
    val w = Window.partitionBy("dst")
      .orderBy(col("n").desc, col("community").asc)
    for (_ <- 1 to iters) {
      labels = sym
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .repartition(col("dst"))
        .groupBy(col("dst"), col("community"))
        .agg(count(lit(1)).as("n"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("dst").as("id"), col("community"))
    }
    val out = labels.localCheckpoint(true)
    sym.unpersist()
    out
  }
}
