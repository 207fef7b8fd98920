package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Ranks (bucketed two-pass global ranks) vs the single-partition
  * window it replaces: brute-force equality on real sf0.001 tables
  * (ties included), both directions, plus the plan pin that the fact
  * rows are hash-distributed by bucket (not funneled to one task).
  */
class RanksSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def orders = graft.Tables.t(spark, sf, "orders")
    .select(col("o_orderkey"), col("o_totalprice"))
  private def lineitem = graft.Tables.t(spark, sf, "lineitem")
    .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  test("rowNumber asc == global window row_number") {
    val got = Ranks.rowNumber(orders, "o_totalprice", ascending = true,
        tiebreaks = Seq("o_orderkey"), out = "rn", buckets = 8)
      .select("o_orderkey", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = orders.withColumn("rn",
        row_number().over(Window.orderBy(col("o_totalprice").asc,
          col("o_orderkey").asc)).cast("long"))
      .select("o_orderkey", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp)
  }

  test("rowNumber desc == global window row_number desc") {
    val got = Ranks.rowNumber(orders, "o_totalprice", ascending = false,
        tiebreaks = Seq("o_orderkey"), out = "rn", buckets = 8)
      .select("o_orderkey", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = orders.withColumn("rn",
        row_number().over(Window.orderBy(col("o_totalprice").desc,
          col("o_orderkey").asc)).cast("long"))
      .select("o_orderkey", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp)
  }

  test("minRank == global window rank() on a heavily-tied column") {
    // l_quantity: ~50 distinct values over thousands of rows — every
    // bucket boundary lands between tie groups by construction.
    val counts = lineitem.groupBy("l_quantity").agg(count(lit(1)).as("c"))
    val got = Ranks.minRankOfCounts(counts, "l_quantity", "c",
        ascending = true, out = "r", buckets = 8)
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toSet
    val exp = lineitem.withColumn("r",
        rank().over(Window.orderBy(col("l_quantity").asc)).cast("long"))
      .select("l_quantity", "r").distinct()
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toSet
    assert(got == exp)
  }

  test("rowNumberKeyed + stringPrefixKey == global window over strings") {
    // customer names: shared long prefixes ("Customer#0000...") force
    // the 7-byte prefix key to collide massively — every row of a
    // collision class must still rank exactly by the full (value, key)
    // order via the within-bucket sort. Add crafted prefix/short
    // strings to pin the zero-padding monotonicity ("ab" < "aaz" is
    // the bug the padding prevents).
    val names = graft.Tables.t(spark, sf, "customer")
      .select(col("c_name").as("v"), col("c_custkey").cast("string").as("k"))
      .unionByName(spark.createDataFrame(Seq(
        ("ab", "x1"), ("aaz", "x2"), ("a", "x3"), ("", "x4"),
        ("aazzzzzzzzzz", "x5"), ("abé", "x6"))).toDF("v", "k"))
    val got = Ranks.rowNumberKeyed(names, Ranks.stringPrefixKey(col("v")),
        Seq(col("v").asc, col("k").asc), out = "rn", buckets = 8)
      .select("k", "rn").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val exp = names.withColumn("rn",
        row_number().over(Window.orderBy(col("v").asc, col("k").asc))
          .cast("long"))
      .select("k", "rn").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == exp)
  }

  test("stringPrefixKey is monotone on the prefix-trap cases") {
    val vs = Seq("", "a", "aaz", "aazzzzzzzzzz", "ab", "abé", "b")
    val keys = spark.createDataFrame(vs.map(Tuple1(_))).toDF("v")
      .select(Ranks.stringPrefixKey(col("v")).as("key"))
      .collect().map(_.getDouble(0))
    assert(keys.sameElements(keys.sorted),
      s"keys not monotone for sorted inputs: ${vs.zip(keys)}")
  }

  test("cut points are driver-collected literals — no sketch in the rank plan") {
    // the r10-advice hazard: a LAZY approx_percentile subquery is
    // re-evaluated per reference of the bucketed frame, and its merge
    // is fetch-order-sensitive, so the counts and the join could see
    // DIFFERENT cut arrays (duplicated/skipped ranks). The fix
    // collects once and inlines — so no percentile sketch may appear
    // anywhere in the rank plan.
    val plan = Ranks.rowNumber(orders, "o_totalprice", ascending = true,
        tiebreaks = Seq("o_orderkey"), out = "rn")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"), plan.take(2000))
    val keyed = Ranks.rowNumberKeyed(orders,
        Ranks.stringPrefixKey(col("o_orderkey").cast("string")),
        Seq(col("o_orderkey").asc), out = "rn")
      .queryExecution.optimizedPlan.toString
    assert(!keyed.toLowerCase.contains("percentile"))
  }

  test("prefixSum == global window exclusive running sum (ties included)") {
    val got = Ranks.prefixSum(lineitem, "l_orderkey", "l_quantity",
        ascending = true, tiebreaks = Seq("l_linenumber"),
        out = "pre", buckets = 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("pre"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exp = lineitem.withColumn("pre",
        coalesce(sum(col("l_quantity").cast("long")).over(
          Window.orderBy(col("l_orderkey").asc, col("l_linenumber").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("l_orderkey"), col("l_linenumber"), col("pre"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == exp)
  }

  test("fact rows hash-distribute by bucket (no fact-scale single partition)") {
    val plan = Ranks.rowNumber(orders, "o_totalprice", ascending = true,
        tiebreaks = Seq("o_orderkey"), out = "rn")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__b"),
      s"expected the window input partitioned by __b:\n${plan.take(3000)}")
  }

  test("ntile == global window ntile on a total order, k dividing n or not") {
    // orders at sf0.001 has 1500 rows: k=5 divides, k=7 and k=32 leave
    // remainders exercising the big-tile/small-tile boundary arithmetic
    for (k <- Seq(1, 5, 7, 32)) {
      val got = Ranks.ntile(orders, k, "o_totalprice",
          ascending = true, tiebreaks = Seq("o_orderkey"), out = "tile",
          buckets = 8)
        .select("o_orderkey", "tile").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exp = orders.withColumn("tile",
          ntile(k).over(Window.orderBy(col("o_totalprice").asc,
            col("o_orderkey").asc)).cast("long"))
        .select("o_orderkey", "tile").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exp, s"k=$k")
    }
  }

  test("ntile desc == global window ntile desc") {
    val got = Ranks.ntile(orders, 4, "o_totalprice",
        ascending = false, tiebreaks = Seq("o_orderkey"), buckets = 8)
      .select("o_orderkey", "tile").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = orders.withColumn("tile",
        ntile(4).over(Window.orderBy(col("o_totalprice").desc,
          col("o_orderkey").asc)).cast("long"))
      .select("o_orderkey", "tile").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp)
  }

  test("rowNumberGrouped == per-group window row_number, heavy ties included") {
    // lineitem quantity: ~50 distinct values per group — bucket cuts
    // land inside tie runs constantly; per-group exactness must hold
    val li = graft.Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_quantity").as("v"),
        col("l_orderkey").as("k1"), col("l_linenumber").as("k2"))
    val got = Ranks.rowNumberGrouped(li, "g", "v",
        ascending = true, tiebreaks = Seq("k1", "k2"), out = "rn",
        buckets = 8)
      .select("g", "k1", "k2", "rn").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val exp = li.withColumn("rn",
        row_number().over(Window.partitionBy(col("g"))
          .orderBy(col("v").asc, col("k1").asc, col("k2").asc))
          .cast("long"))
      .select("g", "k1", "k2", "rn").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == exp)
  }

  test("rowNumberGrouped distributes each group across buckets (plan pin)") {
    val li = graft.Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_quantity").as("v"),
        col("l_orderkey").as("k1"))
    val plan = Ranks.rowNumberGrouped(li, "g", "v",
        tiebreaks = Seq("k1"), out = "rn")
      .queryExecution.executedPlan.toString
    // the window exchange must be on (group, bucket), never group
    // alone — a 5-type fact table would otherwise run in 5 tasks
    assert(plan.contains("hashpartitioning(g") && plan.contains("__b"),
      plan.take(3000))
  }

  test("rowNumberGrouped desc and single-row groups") {
    val df = spark.createDataFrame(Seq(
      ("a", 5.0, 1L), ("a", 9.0, 2L), ("a", 9.0, 3L), ("b", 1.0, 4L)))
      .toDF("g", "v", "id")
    val got = Ranks.rowNumberGrouped(df, "g", "v", ascending = false,
        tiebreaks = Seq("id"), out = "rn")
      .select("id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 1L), (3L, 2L), (1L, 3L), (4L, 1L)))
  }

  test("groupedQuantiles == per-group PERCENTILE_DISC at exact target ranks") {
    val li = graft.Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"),
        col("l_orderkey").as("k1"), col("l_linenumber").as("k2"))
    val got = Ranks.groupedQuantiles(li, "g", "v", Seq(0.5, 0.95, 0.99),
        tiebreaks = Seq("k1", "k2"), buckets = 8)
      .collect().map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(2))).toMap
    // reference: window rank + exact decimal target per group
    val ref = li.withColumn("rn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("v").asc,
            col("k1").asc, col("k2").asc)).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .collect()
    for (q <- Seq(0.5, 0.95, 0.99)) {
      val qd = new java.math.BigDecimal(q.toString)
      val byG = ref.groupBy(_.getString(0))
      byG.foreach { case (g, rows) =>
        val n = rows.head.getLong(5)
        val target = qd.multiply(new java.math.BigDecimal(n))
          .setScale(0, java.math.RoundingMode.CEILING).longValueExact()
        val expected = rows.find(_.getLong(4) == target).get.getDouble(1)
        assert(got((g, q)) == expected, s"g=$g q=$q")
      }
    }
  }

  test("ntile with n < k gives each row its own tile (div-by-zero ELSE arm)") {
    // q = n div k = 0: every row sits in a big tile and the ELSE arm's
    // divisor would be 0 — greatest(q, 1) must keep ANSI codegen safe
    // even though that branch is never TAKEN
    val tiny = spark.createDataFrame(Seq(
      (1L, 7.0), (2L, 3.0), (3L, 9.0))).toDF("k", "v")
    val got = Ranks.ntile(tiny, 7, "v", tiebreaks = Seq("k"))
      .select("k", "tile").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 1L), (1L, 2L), (3L, 3L)))
  }
}
