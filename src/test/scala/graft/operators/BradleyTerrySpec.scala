package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class BradleyTerrySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("two items: strength ratio equals win ratio (closed-form fixed point)") {
    // A beats B 3 times, B beats A once. For a 2-item system the MM
    // update lands on the exact MLE in one round and stays there:
    // p_A = W_A / (W_A + W_B) = 3/4 — every later round is a no-op.
    val comps = (Seq.fill(3)(("a", "b")) ++ Seq(("b", "a")))
      .toDF("winner", "loser")
    val got = BradleyTerry.fit(comps, "winner", "loser", iters = 3)
      .as[(String, Double)].collect().toMap
    assert(got("a") == 0.75 && got("b") == 0.25)
  }

  test("symmetric record -> equal strengths; strengths sum to 1") {
    val comps = Seq(("x", "y"), ("y", "x"), ("x", "y"), ("y", "x"),
      ("y", "z"), ("z", "y")).toDF("winner", "loser")
    val got = BradleyTerry.fit(comps, "winner", "loser", iters = 4)
      .as[(String, Double)].collect().toMap
    // every record is even, so wins are exactly proportional to games:
    // the uniform vector is the MLE fixed point regardless of how
    // UNEVENLY the comparisons are distributed across pairs (y fought
    // 6, z fought 2 -- strengths identical)
    assert(got.values.toSet.size == 1, got.toString)
    assert(math.abs(got.values.sum - 1.0) < 3e-9) // 9 dp rounds, 3 items
  }

  test("zero-win items converge to strength 0 without NaN/Inf") {
    // A beats B and C; B and C never win anything. Hand MM: round 1
    // sends B and C to exactly 0 (W=0 numerator), A normalizes to 1,
    // and round 2 is stable because the 0-strength items are never
    // compared against EACH OTHER (their pair would have a winner).
    val comps = Seq(("a", "b"), ("a", "c")).toDF("winner", "loser")
    val got = BradleyTerry.fit(comps, "winner", "loser", iters = 2)
      .as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 1.0, "b" -> 0.0, "c" -> 0.0))
  }

  test("self-comparisons are dropped; dominance orders the scale") {
    val comps = Seq(("a", "a"), ("a", "a"), // noise: carries no signal
      ("a", "b"), ("a", "b"), ("b", "a"),
      ("b", "c"), ("b", "c"), ("c", "b"),
      ("a", "c")).toDF("winner", "loser")
    val got = BradleyTerry.fit(comps, "winner", "loser", iters = 5)
      .as[(String, Double)].collect().toMap
    assert(got("a") > got("b") && got("b") > got("c"))
  }

  test("layout-independent: bit-identical across input partitionings") {
    val comps = (1L to 400L).map(i => (i % 23, (i * 7) % 23))
      .filter(p => p._1 != p._2).toDF("winner", "loser")
    val one = BradleyTerry.fit(comps.repartition(1), "winner", "loser", 3)
      .as[(Long, Double)].collect().toSet
    val many = BradleyTerry.fit(comps.repartition(13), "winner", "loser", 3)
      .as[(Long, Double)].collect().toSet
    assert(one == many, "DECIMAL accumulation must erase partition order")
  }

  test("plan pins the deliberate pair-table exchange on b") {
    // the scale shape: comp is persisted re-exchanged on `b`, so every
    // round's strength join on b reads the cache's partitioning and
    // only the |items| vector moves. The pin asserts the explicit
    // repartition really is in the optimized plan.
    // the returned frame's lineage is truncated at the checkpoints, so
    // pin the exchange on fit's ACTUAL pair-table builder
    import org.apache.spark.sql.functions._
    val wins = Seq(("a", "b"), ("b", "c")).toDF("winner", "loser")
      .groupBy(col("winner"), col("loser")).agg(count(lit(1)).as("w"))
    val plan = BradleyTerry.pairTable(wins).queryExecution
      .optimizedPlan.toString
    assert(plan.contains("RepartitionByExpression [b#"), plan.take(1500))
  }
}
