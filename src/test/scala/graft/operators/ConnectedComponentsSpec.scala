package graft.operators

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ConnectedComponentsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.components(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  /** Reference union-find on the driver for cross-checking. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // normalize roots to the component minimum
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => ns.map(_ -> ns.min) }.toMap
  }

  test("a long chain collapses to one component labeled by its minimum") {
    val chain = (1L until 40L).map(i => (i, i + 1))
    val got = run(chain)
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == (1L to 40L).toSet)
  }

  /** Jobs run by `body`, and how many of them were checkpoint jobs:
    * a job whose last stage computes a locally checkpointed RDD (the
    * only kind persisted at a storage level here). [[components]]
    * checkpoints once for the initial edge set and once per round.
    */
  private def jobsAndCheckpoints(body: => Unit): (Int, Int) = {
    val (jobs, chk) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (e.stageInfos.maxBy(_.stageId).rddInfos.head.storageLevel.isValid)
          chk.incrementAndGet()
      }
    }
    BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; BusDrain(spark.sparkContext); (jobs.get, chk.get) }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a round runs at most three jobs: one per exchange and the checkpoint") {
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val (jobs, checkpoints) = jobsAndCheckpoints {
      ConnectedComponents.components(chain, "a", "b")
    }
    val rounds = checkpoints - 1
    // the alternation's own round count for this chain: it depends on
    // the algorithm, not on how a star is planned
    assert(rounds == 7)
    // the initial build is one exchange (its distinct) and a checkpoint;
    // a star that joins a groupBy back to its edges runs 10-11 jobs a round
    assert(jobs <= 3 * rounds + 2, s"$jobs jobs for $rounds rounds")
  }

  test("a reversed chain, a binary tree and a clique with a hub match union-find") {
    val reversed = (1L until 500L).map(i => (i + 1, i)).reverse
    val tree = (2L to 63L).map(i => (i, i / 2))
    val clique = for (a <- 1L to 8L; b <- 1L to 8L if a != b) yield (a, b)
    // every clique node and 20 leaves hang off hub 100: the stars emit
    // the same (v, m) edge from many u's
    val hub = clique ++ (1L to 8L).map(i => (100L, i)) ++
      (101L to 120L).map(i => (i, 100L))
    for (g <- Seq(reversed, tree, hub)) assert(run(g) == unionFind(g))
  }

  test("a star forest comes back unchanged") {
    val stars = (2L to 10L).map(i => (i, 1L)) ++ (21L to 30L).map(i => (i, 20L))
    assert(run(stars) == (stars ++ Seq((1L, 1L), (20L, 20L))).toMap)
  }

  test("disjoint components, a cycle, and duplicate/reversed edges") {
    val edges = Seq(
      (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), // cycle {1,2,3}
      (10L, 11L),                             // pair {10,11}
      (7L, 7L),                               // self-loop: no-op
      (20L, 21L), (21L, 22L), (22L, 20L))     // cycle {20,21,22}
    val got = run(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("durable checkpointDir path writes checkpoints and matches the local path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_chk").toString
    try {
      val chain = (1L until 60L).map(i => (i, i + 1)) ++ Seq((100L, 101L))
      val durable = ConnectedComponents.components(chain.toDF("a", "b"), "a", "b",
          checkpointDir = Some(dir))
        .as[(Long, Long)].collect().toMap
      assert(durable == run(chain))
      // the loop actually checkpointed into the durable dir, AND
      // reclaimed every superseded round: a 60-node chain runs several
      // rounds, but only the FINAL round's rdd-* directory may remain
      // (it backs the returned frame; earlier rounds are deleted as
      // soon as the next one materializes)
      def rddDirs(f: java.io.File): Array[java.io.File] = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        kids.filter(_.getName.startsWith("rdd-")) ++ kids.filter(_.isDirectory).flatMap(rddDirs)
      }
      val remaining = rddDirs(new java.io.File(dir))
      assert(remaining.nonEmpty, s"no checkpoint data in $dir")
      assert(remaining.length == 1,
        s"superseded round checkpoints not reclaimed: ${remaining.mkString(", ")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("matches driver-side union-find on a pseudo-random graph") {
    // deterministic LCG so the test is reproducible
    var state = 123456789L
    def next(bound: Int): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      math.floorMod(state >>> 33, bound.toLong)
    }
    val edges = Seq.fill(120)((next(80), next(80))).filter(e => e._1 != e._2)
    assert(run(edges) == unionFind(edges))
  }

  test("keepBestRepresentatives keeps the argmax-score member per cluster") {
    import org.apache.spark.sql.functions.col
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    // clusters {1,2,3} and {10,11}; 20 is a singleton
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val comps = ConnectedComponents.components(edges, "id1", "id2")
    val scored = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 2L),
      (20L, 1L)).toDF("doc_id", "score")
    val kept = ConnectedComponents.keepBestRepresentatives(
      scored, "doc_id", comps, "score")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cluster 1: max score 9 tie between 2 and 3 -> id 2; cluster 2:
    // 10 beats 11; singleton 20 survives untouched
    assert(kept == Set((2L, 9L), (10L, 4L), (20L, 1L)))
  }
}
