package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.lit
import graft.TestSpark

class UpsertSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def current = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    .toDF("id", "name", "v")
  private def updates = Seq((2L, "B", 99.0), (4L, "d", 40.0))
    .toDF("id", "name", "v")

  test("merge replaces matched keys and appends new ones") {
    val out = Upsert.merge(current, updates, Seq("id"))
      .orderBy("id").as[(Long, String, Double)].collect()
    assert(out.toSeq == Seq(
      (1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("plan shape: merge is one anti-join + union, no extra exchange") {
    // the anti join may shuffle each side once (or broadcast and
    // shuffle nothing); the union must add NO exchange of its own
    val out = Upsert.merge(current, updates, Seq("id"))
    graft.audit.PlanGuard.assertMaxExchanges(out, 2)
    graft.audit.PlanGuard.assertNoCartesian(out)
  }

  test("merge is idempotent: f(f(x)) == f(x)") {
    val once = Upsert.merge(current, updates, Seq("id"))
    val twice = Upsert.merge(once, updates, Seq("id"))
    assert(once.orderBy("id").collect().toSeq ==
      twice.orderBy("id").collect().toSeq)
  }

  test("merge on a date key replaces only the dates present in the delta") {
    val mart = Seq(("2024-01-01", 10L), ("2024-01-02", 20L)).toDF("date", "kpi")
    val daily = Seq(("2024-01-02", 99L), ("2024-01-03", 30L)).toDF("date", "kpi")
    val out = Upsert.merge(mart, daily, Seq("date"))
      .orderBy("date").as[(String, Long)].collect()
    assert(out.toSeq == Seq(
      ("2024-01-01", 10L), ("2024-01-02", 99L), ("2024-01-03", 30L)))
  }

  test("upsertStamped keeps created_at on conflict and refreshes updated_at") {
    import java.sql.Timestamp
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-01-05 00:00:00")
    val mart = Upsert.stampNew(
      Seq(("2024-01-01", 10L), ("2024-01-02", 20L)).toDF("date", "kpi"), lit(t1))
    val daily = Seq(("2024-01-02", 99L), ("2024-01-03", 30L)).toDF("date", "kpi")
    val out = Upsert.upsertStamped(mart, daily, lit(t2), Seq("date"))
      .orderBy("date")
      .as[(String, Long, Timestamp, Timestamp)].collect()
    assert(out.toSeq == Seq(
      ("2024-01-01", 10L, t1, t1),  // untouched: both stamps original
      ("2024-01-02", 99L, t1, t2),  // conflict: created kept, updated fresh
      ("2024-01-03", 30L, t2, t2))) // new key: both stamps now
  }

  test("upsertStamped is idempotent at fixed now") {
    import java.sql.Timestamp
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-01-05 00:00:00")
    val mart = Upsert.stampNew(
      Seq(("2024-01-01", 10L)).toDF("date", "kpi"), lit(t1))
    val daily = Seq(("2024-01-01", 99L), ("2024-01-02", 30L)).toDF("date", "kpi")
    val once = Upsert.upsertStamped(mart, daily, lit(t2), Seq("date"))
    val twice = Upsert.upsertStamped(once, daily, lit(t2), Seq("date"))
    assert(once.orderBy("date").collect().toSeq ==
      twice.orderBy("date").collect().toSeq)
  }

  test("scd2FromHistory collapses runs and chains validity") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val hist = Seq(
      (1L, "new", ts("2024-01-01"), 1L),
      (1L, "new", ts("2024-01-05"), 2L),      // same state: no version
      (1L, "paid", ts("2024-02-01"), 3L),
      (1L, "new", ts("2024-03-01"), 4L),      // back to 'new': NEW version
      (2L, "paid", ts("2024-01-02"), 5L)
    ).toDF("k", "status", "ts", "tie")
    val dim = Upsert.scd2FromHistory(hist, Seq("k"), Seq("status"), "ts",
        Seq("tie"))
      .select("k", "status", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Timestamp, Option[Timestamp], Boolean)]
      .collect().toSet
    assert(dim == Set(
      (1L, "new", ts("2024-01-01"), Some(ts("2024-02-01")), false),
      (1L, "paid", ts("2024-02-01"), Some(ts("2024-03-01")), false),
      (1L, "new", ts("2024-03-01"), None, true),
      (2L, "paid", ts("2024-01-02"), None, true)))
  }
}
