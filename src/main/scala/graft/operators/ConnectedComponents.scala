package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the step that
  * turns pairwise "A ~ B" verdicts into dedup CLUSTERS so a corpus build
  * can keep one representative per group (the reference stops at
  * row-level dedup; cluster-level dedup is what an LLM corpus needs once
  * near-dup pairs exist).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * published shuffle-native CC algorithm. Each round is two bounded
  * passes keyed by node; the edge set converges to stars
  * (node → component minimum) in O(log²) rounds regardless of component
  * diameter, unlike naive label propagation whose round count is the
  * diameter (a 1M-doc chain would need 1M rounds; this needs ~20).
  *
  * Scale shape per round: each star is ONE pass over an edge set
  * exchanged once, on `u`, and the neighbourhood minimum is a window
  * over that partitioning (not an aggregate joined back to the
  * edges). largeStar's output is exchanged on its own `u`, which
  * clusters its `distinct` on (u, v) and smallStar's window alike;
  * smallStar's duplicates are left to the next round's exchange. So a
  * round is two exchanges plus the checkpoint's result stage: under
  * AQE every exchange runs as its own job, three jobs per round. The
  * edge set only shrinks toward one edge per node. No all-pairs step
  * anywhere.
  * A checkpoint cuts the growing lineage each round: `localCheckpoint`
  * by default (fastest — executor-local blocks), or a DURABLE
  * `checkpoint()` into `checkpointDir` for real clusters, where
  * executor-pinned blocks would die with a lost executor and kill the
  * job mid-loop.
  */
object ConnectedComponents {

  /** Map every node that appears in `edges` to its component id (the
    * minimum node id in the component). Nodes absent from `edges`
    * (singletons) are the caller's to add back — typically
    * `docs.join(result, ..., "left").withColumn(coalesce(component, id))`.
    *
    * `checkpointDir`: when set, every round checkpoints DURABLY into
    * that directory (HDFS/object store on a cluster) instead of
    * `localCheckpoint`. Local checkpoint blocks are pinned to specific
    * executors — losing one mid-loop makes the lineage-truncated edge
    * set unrecoverable and fails the job — so production CC over a real
    * cluster should always pass a durable dir; the default stays local
    * for single-node and test speed. Note `setCheckpointDir` is
    * SparkContext-global: the dir remains this session's checkpoint
    * location after the call.
    *
    * Checkpoint storage is RECLAIMED as the loop advances: once round
    * N+1 materializes, round N's copy of the edge set is superseded
    * (N+1's lineage was truncated at the checkpoint, so nothing can
    * re-read it) and its durable files are deleted / local blocks
    * unpersisted — a 30-round loop holds at most two rounds of edges,
    * not thirty. Only the FINAL round's checkpoint survives: it backs
    * the returned frame, so it lives until the session's checkpoint
    * dir is cleaned (durable) or the frame is GC'd (local).
    */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
                 maxIter: Int = 30, checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    val chk: DataFrame => DataFrame =
      if (checkpointDir.isDefined) _.checkpoint(true) else _.localCheckpoint(true)
    // canonical undirected edges, self-loops dropped. The convergence
    // signature piggybacks on the checkpoint job via observe(), so it
    // costs no scan of its own.
    var (e, sig) = checkpointWithSignature(edges
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
              least(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), chk)

    // ONE alternation round (largeStar then smallStar) per checkpoint.
    // AQE is load-bearing for this loop: its reducer coalescing shrinks
    // every exchange of the rapidly-shrinking edge set to a handful of
    // tasks (measured 5x slower with AQE disabled — static
    // shuffle-partition-count reducers over tiny data). Don't
    // "optimize" it off here.
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val (next, nextSig) = checkpointWithSignature(smallStar(largeStar(e)), chk)
      // `next` is materialized with truncated lineage, so the PREVIOUS
      // round's checkpoint is now unreachable — reclaim it.
      freeCheckpoint(e)
      converged = nextSig == sig
      sig = nextSig
      e = next
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")

    // converged edge set is a star forest oriented child(u) -> root(v),
    // possibly with repeated edges (see smallStar)
    e.select(col("u").as("id"), col("v").as("component"))
      .union(e.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** The cluster-dedup payoff: keep one representative per component
    * (the component minimum) plus every row that is in no component.
    * `comps` is the (id, component) output of [[components]]; a left
    * join + coalesce filter, so singletons never shuffle through the
    * graph machinery.
    */
  def keepRepresentatives(df: DataFrame, idCol: String,
                          comps: DataFrame): DataFrame =
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(coalesce(col("component"), col(idCol)) === col(idCol))
      .drop("component")

  /** Quality-aware representative selection: keep the member with the
    * HIGHEST `scoreCol` of each component (production near-dup dedup
    * keeps the best-quality duplicate, not the smallest id — min-id
    * silently biases the corpus toward whatever sorted first at
    * ingest). Ties break on id ascending; singletons pass through the
    * same window with their own id as component, so one partition key
    * serves clustered and unclustered rows alike.
    *
    * `scoreCol` should be engine-deterministic (an integer count, a
    * decimal) if the output feeds an oracle or a reproducibility
    * contract — argmax over last-ulp float noise is not stable.
    */
  def keepBestRepresentatives(df: DataFrame, idCol: String,
                              comps: DataFrame,
                              scoreCol: String): DataFrame = {
    val labeled = df
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("component"), col(idCol)))
    val w = Window.partitionBy("__comp")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    labeled.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__comp", "component")
  }

  /** large-star: every neighbor v > u links to min(N(u) ∪ {u}). The
    * symmetric edge set is exchanged once, on u, and the neighbourhood
    * minimum is a window over that partitioning, which ignores
    * repeated edges. The output is exchanged on its new u, which
    * clusters the `distinct` and the following smallStar's window
    * with no exchange of their own.
    */
  private def largeStar(e: DataFrame): DataFrame =
    e.union(e.select(col("v").as("u"), col("u").as("v")))
      .withColumn("m", least(min(col("v")).over(Window.partitionBy("u")), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .repartition(col("u"))
      .distinct()

  /** small-star: every smaller neighbor (and u itself) links to the
    * minimum m of u's smaller neighborhood. Edges are oriented u > v,
    * and the input arrives distinct and partitioned on u (largeStar's
    * output), so the window needs no exchange. Each input row emits
    * one edge: (v, m), or (u, m) from the one row whose v is m.
    *
    * The output is NOT made distinct: an edge reached from two u's
    * comes out twice. Nothing downstream needs a set. The next
    * largeStar's minimum ignores repeats and its `distinct` drops
    * them, and so does the final `distinct` in [[components]]. The
    * convergence signature then compares multisets, and two equal
    * multisets have equal supports, so a repeated signature still
    * means a fixed point.
    */
  private def smallStar(e: DataFrame): DataFrame =
    e.withColumn("m", min(col("v")).over(Window.partitionBy("u")))
      .select(when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
              col("m").as("v"))

  /** Reclaim a superseded round's checkpoint storage: durable files
    * are deleted from the checkpoint dir, local-checkpoint blocks are
    * unpersisted from executors. Without this a long loop accumulates
    * one full copy of the edge set per round (nothing else deletes
    * reliable checkpoint files until the dir itself is cleaned).
    */
  private[operators] def freeCheckpoint(df: DataFrame): Unit =
    org.apache.spark.sql.graftshim.ColumnShim.backingRdd(df).foreach { rdd =>
      rdd.getCheckpointFile match {
        case Some(file) =>
          val path = new org.apache.hadoop.fs.Path(file)
          path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
        case None => rdd.unpersist(blocking = false)
      }
    }

  private val obsId = new java.util.concurrent.atomic.AtomicLong(0)

  /** Eagerly checkpoint an edge set and return it with an
    * order-insensitive fingerprint — (count, additive hash) — collected
    * DURING the checkpoint job via `observe`, so the convergence check
    * costs no extra scan. The hash accumulates in DECIMAL(38,0): a
    * BIGINT sum of full-range xxhash64 values would overflow, and
    * Spark's ANSI mode makes that a runtime error, not a wraparound.
    */
  private def checkpointWithSignature(e: DataFrame, chk: DataFrame => DataFrame)
      : (DataFrame, (Long, String)) = {
    val obs = org.apache.spark.sql.Observation(s"cc_sig_${obsId.incrementAndGet()}")
    val out = chk(e.observe(obs,
        count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h")))
    (out, (obs.get("n").asInstanceOf[Long], String.valueOf(obs.get("h"))))
  }
}
