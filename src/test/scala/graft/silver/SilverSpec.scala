package graft.silver

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec,
  ShuffleQueryStageExec}
import graft.TestSpark
import graft.operators.Quality

class SilverSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Run a ScalaCheck property with a small deterministic budget. */
  private def forAll[A](gen: Gen[A], trials: Int = 12)(body: A => Boolean): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(trials)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)),
      Prop.forAll(gen)(body))
    assert(res.passed, res.status.toString)
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("products: keep-latest dedup by id, availability from price") {
    val bronze = Seq(
      (1, "Widget v1", 9.99, "tools", ts("2024-01-01 00:00:00")),
      (1, "Widget v2", 12.50, "tools", ts("2024-01-02 00:00:00")),
      (2, "Free item", 0.0, "misc", ts("2024-01-01 00:00:00"))
    ).toDF("id", "title", "price", "category", "_ingestion_timestamp")
    val out = Silver.products(bronze).orderBy("product_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("title") == "Widget v2") // latest wins
    assert(out(0).getAs[Boolean]("is_available"))
    assert(!out(1).getAs[Boolean]("is_available")) // price 0 -> unavailable
  }

  test("carts: safe-division discount percentage, zero total -> 0.0") {
    val bronze = Seq(
      (1, 10, 200.0, 150.0, ts("2024-01-01 00:00:00")),
      (2, 11, 0.0, 0.0, ts("2024-01-01 00:00:00"))
    ).toDF("id", "userId", "total", "discountedTotal", "_ingestion_timestamp")
    val out = Silver.carts(bronze).orderBy("cart_id").collect()
    assert(out(0).getAs[Double]("discount_percentage") == 25.0)
    assert(out(1).getAs[Double]("discount_percentage") == 0.0)
  }

  test("users: keyed on normalized email, full-name concat") {
    val bronze = Seq(
      (1, "  A@X.COM ", "Ada", "Lovelace", ts("2024-01-01 00:00:00")),
      (2, "a@x.com", "Ada", "King", ts("2024-01-02 00:00:00")), // same email, later
      (3, "b@y.org", "Grace", "Hopper", ts("2024-01-01 00:00:00"))
    ).toDF("id", "email", "firstname", "lastname", "_ingestion_timestamp")
    val out = Silver.users(bronze).orderBy("email").collect()
    assert(out.length == 2) // email dedup across differing ids
    assert(out(0).getAs[String]("email") == "a@x.com")
    assert(out(0).getAs[String]("full_name") == "Ada King") // latest wins
  }

  test("orders: final_amount falls back to total_amount") {
    val bronze = Seq(
      (1, 10, 100.0, Some(90.0), ts("2024-01-01 00:00:00")),
      (2, 11, 50.0, None, ts("2024-01-01 00:00:00"))
    ).toDF("id", "userId", "total_amount", "final_amount", "_ingestion_timestamp")
    val out = Silver.orders(bronze).orderBy("order_id").collect()
    assert(out(0).getAs[Double]("final_amount") == 90.0)
    assert(out(1).getAs[Double]("final_amount") == 50.0)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("raw ids that cast to one key: identical rows merge, differing rows stay") {
    val t1 = ts("2024-01-01 00:00:00")
    val bronze = Seq(
      ("1", "Widget", 9.99, "tools", t1),
      ("01", "Widget", 9.99, "tools", t1),   // same row as id "1" once cast
      ("001", "Widget", 5.0, "tools", t1),   // same key, different price
      ("2", "Gadget", 1.0, "toys", t1),
      ("2", "Gadget", 2.0, "toys", ts("2024-01-02 00:00:00")),
      ("02", "Gadget", 2.0, "toys", ts("2024-01-02 00:00:00"))
    ).toDF("id", "title", "price", "category", "_ingestion_timestamp")
    val out = Silver.products(bronze)
    assert(sortedRows(out) == Seq(
      "[1,Widget,5.0,tools,true,2024-01-01 00:00:00.0]",
      "[1,Widget,9.99,tools,true,2024-01-01 00:00:00.0]",
      "[2,Gadget,2.0,toys,true,2024-01-02 00:00:00.0]"))
    // the quality gate still sees the duplicated key
    val checks = Quality.suite(Map("products" -> ((out, Seq("product_id")))))
    assert(checks.find(_.check == "unique_product_id").map(_.violations) == Some(1L))
  }

  test("property: products equals keep-latest per raw id, cast, then distinct") {
    // one row per (raw id, timestamp), so the newest row per raw id is
    // unique and the expected rows need no tiebreak
    val rows = Gen.nonEmptyListOf(for {
      id <- Gen.oneOf("1", "01", "001", "2", "02", "3")
      title <- Gen.oneOf("a", "b")
      price <- Gen.oneOf(0.0, 1.0)
      t <- Gen.choose(1L, 3L)
    } yield (id, title, price, "c", new Timestamp(t * 1000L)))
      .map(_.groupBy(r => (r._1, r._5)).values.map(_.head).toList)
    forAll(rows) { rs =>
      val bronze = rs.toDF("id", "title", "price", "category", "_ingestion_timestamp")
        .repartition(3)
      val out = Silver.products(bronze).collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), r.getString(3), r.getBoolean(4), r.getTimestamp(5).getTime)).toSeq
      val expected = rs.groupBy(_._1).values.map(_.maxBy(_._5.getTime))
        .map { case (id, title, price, cat, t) =>
          (id.toLong, title, price, cat, price > 0, t.getTime) }.toSet
      out.size == out.toSet.size && out.toSet == expected
    }
  }

  test("the silver transforms shuffle once on long ids") {
    def stages(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => stages(a.executedPlan)
      case s: ShuffleQueryStageExec => 1 + stages(s.plan)
      case q: QueryStageExec => stages(q.plan)
      case o => o.children.map(stages).sum
    }
    val t1 = ts("2024-01-01 00:00:00")
    val products = Seq((1L, "Widget", 9.99, "tools", t1), (2L, "Gadget", 0.0, "toys", t1))
      .toDF("id", "title", "price", "category", "_ingestion_timestamp")
    val carts = Seq((1L, 10L, 200.0, 150.0, t1), (2L, 11L, 0.0, 0.0, t1))
      .toDF("id", "userId", "total", "discountedTotal", "_ingestion_timestamp")
    for (out <- Seq(Silver.products(products), Silver.carts(carts))) {
      out.collect()
      assert(stages(out.queryExecution.executedPlan) == 1, out.queryExecution.executedPlan)
    }
  }

  test("property: discount_percentage in [0,100] for 0 <= discounted <= total") {
    val gen = for {
      total <- Gen.choose(0.01, 10000.0)
      frac <- Gen.choose(0.0, 1.0)
    } yield (total, total * frac)
    forAll(gen) { case (total, discounted) =>
      val df = Seq((1, 1, total, discounted, ts("2024-01-01 00:00:00")))
        .toDF("id", "userId", "total", "discountedTotal", "_ingestion_timestamp")
      val pct = Silver.carts(df).collect().head.getAs[Double]("discount_percentage")
      pct >= 0.0 && pct <= 100.0
    }
  }

  test("property: dedup keeps exactly one row per key, the max-ts one") {
    val rows = Gen.nonEmptyListOf(for {
      id <- Gen.choose(1, 5)
      t <- Gen.choose(1L, 1000000L)
      price <- Gen.choose(1.0, 100.0)
    } yield (id, s"t$id-$t", price, "c", new Timestamp(t)))
    forAll(rows, trials = 8) { rs =>
      val df = rs.toDF("id", "title", "price", "category", "_ingestion_timestamp")
      val out = Silver.products(df)
      val perKey = out.groupBy("product_id").count().collect()
      // each keeper carries its key's max timestamp
      val maxTs = rs.groupBy(_._1).map { case (k, v) => (k.toLong, v.map(_._5.getTime).max) }
      perKey.forall(_.getLong(1) == 1L) &&
        out.collect().forall(r =>
          r.getAs[Timestamp]("last_updated").getTime ==
            maxTs(r.getAs[Long]("product_id")))
    }
  }
}
