package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class PageRankSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("uniform rank is the fixed point of a cycle") {
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val got = PageRank.pageRank(cycle, "s", "d", iters = 3)
      .as[(Long, Double)].collect().toMap
    // every node: outdeg 1, indeg 1 -> r stays 1/3 forever
    got.values.foreach(r => assert(math.abs(r - 1.0 / 3) < 1e-9))
  }

  test("star graph matches the hand iteration; mass is conserved") {
    // A <-> B, A <-> C: outdeg A=2, B=C=1
    val star = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("s", "d")
    val got = PageRank.pageRank(star, "s", "d", iters = 1)
      .as[(Long, Double)].collect().toMap
    val rA = 0.15 / 3 + 0.85 * (1.0 / 3 + 1.0 / 3)       // from B and C
    val rLeaf = 0.15 / 3 + 0.85 * (1.0 / 3 / 2)          // half of A
    assert(math.abs(got(1L) - rA) < 1e-9)
    assert(math.abs(got(2L) - rLeaf) < 1e-9)
    assert(math.abs(got(3L) - rLeaf) < 1e-9)
    // no dangling -> conserved, up to the 9 dp output rounding per node
    assert(math.abs(got.values.sum - 1.0) < 2e-9)
    assert(got(1L) > got(2L)) // the hub outranks the leaves
  }

  test("deep pre-partitioned path == unpartitioned path, and the plan pins the src exchange") {
    // the q191 scale shape: convergence-grade depth pays one explicit
    // |E| re-exchange on src so every iteration's join reads the
    // cache's partitioning. Results must be BIT-identical either way
    // (the repartition moves rows, never changes them), and the pin
    // asserts the deliberate exchange is actually in the executed plan
    // (REPARTITION_BY_COL on src) — and absent when switched off.
    val edges = (1L to 300L).flatMap { i =>
      Seq((i, i * 7 % 60 + 1), (i * 7 % 60 + 1, i))
    }.toDF("s", "d")
    val on = PageRank.pageRank(edges, "s", "d", iters = 4)
    val off = PageRank.pageRankOn(edges, "s", "d", iters = 4,
      damping = 0.85, pin = false)
    assert(on.as[(Long, Double)].collect().toSet ==
      off.as[(Long, Double)].collect().toSet)
    val onPlan = on.queryExecution.executedPlan.toString
    assert(onPlan.contains("REPARTITION_BY_COL") &&
      onPlan.contains("hashpartitioning(src"), onPlan.take(2000))
    assert(!off.queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_COL"))
  }

  test("pageRank is layout-independent") {
    val edges = (1L to 200L).flatMap { i =>
      Seq((i, i % 50 + 1), (i % 50 + 1, i))
    }.toDF("s", "d")
    val a = PageRank.pageRank(edges, "s", "d", iters = 2)
      .as[(Long, Double)].collect().toSet
    val b = PageRank.pageRank(edges.repartition(17), "s", "d", iters = 2)
      .as[(Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
  }
}
