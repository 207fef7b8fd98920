package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Bradley–Terry preference-strength fitting — the model behind
  * RLHF/DPO reward shaping and LMSYS-style leaderboards: given pairwise
  * comparisons (winner, loser), estimate a latent strength per item so
  * that P(i beats j) = p_i / (p_i + p_j). This is the natural
  * downstream of preference-pair MINING
  * ([[graft.text.QualityClassifier.preferencePairs]]): pairs go in,
  * a calibrated per-item quality scale comes out.
  *
  * Algorithm: Hunter's MM iteration (the classical minorize–maximize
  * update, Hunter 2004, "MM algorithms for generalized Bradley-Terry
  * models") from the uniform start, a fixed number of rounds:
  *
  *   p_i' = W_i / Σ_j n_ij / (p_i + p_j),   then normalize Σ p = 1
  *
  * where W_i = total wins of i and n_ij = comparisons between i and j
  * in either direction. Items with zero wins converge to strength 0 —
  * the correct ML estimate on the boundary; a unique interior optimum
  * needs a strongly connected comparison graph (standard BT caveat,
  * caller's data property — the fit itself never diverges because two
  * never-winning items are never compared against each other, so no
  * denominator term can reach 0/0).
  *
  * Scale shape (the [[PageRank]] discipline): comparisons collapse
  * once into the symmetric pair-count table `comp(a, b, n)` — the
  * |E|-sized edge list — persisted RE-EXCHANGED ON `b`, so each
  * iteration's strength join on `b` reads the cache's partitioning and
  * only the |items|-sized strength vector moves; the second join
  * re-exchanges the joined edges on `a` once per round and the
  * per-item denominator aggregate reuses that same partitioning.
  * One |E| exchange per iteration, nothing collects to the driver, and
  * the strength vector is deliberately NOT broadcast (|items| stops
  * fitting the moment the catalog does).
  *
  * Measured caveat (interleaved A/B, `git checkout c6a12ee && sbt
  * 'runMain graft.AbBench q231_bradley_terry v231_bt_unpartitioned'`):
  * at iters = 3 the pre-exchange is a WASH — sf0.1 medians 9.6 s on /
  * 12.7 s off (3–2), soak sf1 54.7 s on / 44.2 s off (1–2, loaded
  * box). The saved per-round b-exchange is partly repaid because a
  * single-key `b` layout can be SKEWED where the (a, b) groupBy
  * layout is uniform (one popular item concentrates its pair rows in
  * one partition). It stays on for convergence-grade depth, where one
  * exchange per round amortizes.
  *
  * Determinism (what makes a distributed iterative fit oracle-able —
  * the PageRank.scala rules): every per-edge term n_ij/(p_a+p_b) is
  * cast to DECIMAL(30,15) and summed EXACTLY (order-independent on any
  * partitioning), the normalizing Σ p is the same exact decimal sum,
  * and every remaining step is exactly-rounded IEEE arithmetic in the
  * SQL twin's operand order. No transcendentals; the 9 dp round on the
  * way out is a hash-compare convenience.
  *
  * Beyond-reference LLM-pipeline operator (the q224 family): the
  * reference has no preference modeling; this is the standard fit a
  * preference-label corpus needs before reward training.
  */
object BradleyTerry {
  private val Acc = DecimalType(30, 15)

  /** Symmetric pair-count table comp(a, b, n) from the directed wins
    * table, RE-EXCHANGED ON `b` so each MM round's strength join on b
    * reads the cache's partitioning (package-visible for the plan pin).
    */
  private[operators] def pairTable(wins: DataFrame): DataFrame =
    wins
      .select(col("winner").as("a"), col("loser").as("b"), col("w"))
      .union(wins.select(col("loser").as("a"), col("winner").as("b"),
        col("w")))
      .groupBy("a", "b").agg(sum("w").as("n"))
      .repartition(col("b"))

  /** Fit strengths from one-row-per-comparison data. Output:
    * (id, strength), Σ strength = 1, rounded to 9 dp. Self-comparisons
    * (winner == loser) carry no information and are dropped.
    *
    * Iteration lineage: unlike [[PageRank]] (rank vector referenced
    * ONCE per round — a lazy linear chain is fine), the MM update
    * reads the strength vector TWICE per round (both endpoints of
    * every pair) and the normalizer reads the unnormalized vector
    * again — stacking rounds lazily re-evaluates each inner round once
    * per reference, exponentially (measured: 3 rounds at sf0.1 went
    * from a 5-minute timeout to 28 s of local[4] verify wall including
    * session startup once rounds materialize). So each round is
    * materialized the [[ConnectedComponents]] way: eager
    * `localCheckpoint` (or durable `checkpoint` into `checkpointDir`
    * on a real cluster), previous round's blocks reclaimed — the loop
    * holds two rounds of state, not `iters`.
    */
  def fit(comparisons: DataFrame, winnerCol: String, loserCol: String,
          iters: Int, checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    checkpointDir.foreach(
      comparisons.sparkSession.sparkContext.setCheckpointDir)
    val chk: DataFrame => DataFrame =
      if (checkpointDir.isDefined) _.checkpoint(true) else _.localCheckpoint(true)
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val wins = comparisons
      .filter(col(winnerCol) =!= col(loserCol))
      .groupBy(col(winnerCol).as("winner"), col(loserCol).as("loser"))
      .agg(count(lit(1)).as("w"))
      .persist(mem) // feeds comp AND wtot; computed once, dropped below
    val comp = pairTable(wins).persist(mem)
    val wtot = wins.groupBy(col("winner").as("id")).agg(sum("w").as("wi"))
      .persist(mem)
    // every item appears as an `a` (it is a winner or a loser of at
    // least one comparison, and comp carries both orientations)
    val items = comp.select(col("a").as("id")).distinct()
    val nn = items.agg(count(lit(1)).as("nn"))
    var p = chk(items.crossJoin(nn)
      .select(col("id"), (lit(1.0) / col("nn")).as("p")))
    var it = 0
    while (it < iters) {
      val d = comp
        .join(p.select(col("id").as("b"), col("p").as("pb")), Seq("b"))
        .join(p.select(col("id").as("a"), col("p").as("pa")), Seq("a"))
        .groupBy(col("a").as("id"))
        .agg(sum((col("n") / (col("pa") + col("pb"))).cast(Acc))
          .cast("double").as("dv"))
      // d has one row per item (each item occurs as an `a` in comp and
      // its denominator terms are all > 0: a pair of zero-strength
      // items is impossible — one of them won their comparison)
      val u = d.join(wtot, Seq("id"), "left")
        .select(col("id"),
          (coalesce(col("wi"), lit(0L)) / col("dv")).as("up"))
        .persist(mem) // read twice: the Σ normalizer and the division
      val sv = u.agg(sum(col("up").cast(Acc)).cast("double").as("sv"))
      val next = chk(u.crossJoin(sv)
        .select(col("id"), (col("up") / col("sv")).as("p")))
      ConnectedComponents.freeCheckpoint(p)
      u.unpersist(blocking = false)
      p = next
      it += 1
    }
    wins.unpersist(blocking = false)
    comp.unpersist(blocking = false)
    wtot.unpersist(blocking = false)
    p.select(col("id"), round(col("p"), 9).as("strength"))
  }
}
