package graft.gold

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class FunnelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(day: Int, hour: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-${day}%02d $hour%02d:00:00")

  test("funnel: strict order, first-touch, window expiry") {
    val events = Seq(
      // A converts fully in order
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      // B views only
      (2L, ts(1), "view"),
      // C skips the click step — purchase must NOT count
      (3L, ts(1), "view"), (3L, ts(2), "purchase"),
      // D clicks BEFORE the first view — click doesn't qualify
      (4L, ts(2), "view"), (4L, ts(1), "click"), (4L, ts(3), "purchase"),
      // E's purchase lands past the 7-day window of the first view
      (5L, ts(1), "view"), (5L, ts(2), "click"), (5L, ts(10), "purchase"),
      // noise: a non-step event type
      (1L, ts(1, 1), "error")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowDays = 7)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    assert(got("view") == (5L, 1000000L))
    assert(got("click") == (2L, 400000L))     // A and E
    assert(got("purchase") == (1L, 200000L))  // A only
  }

  test("funnel over a user-bucketed events table: no user-key exchange") {
    // the scaladoc's 100 TB claim, plan-pinned: with events bucketed
    // by user, every per-step filter→join→min-agg stage rides the
    // scan's bucket partitioning (alias-aware: the userCol→__u rename preserves it, and
    // hashpartitioning(__u) satisfies the (__u, __t1) clustering as a
    // subset) — the only exchanges left are the step-count rollup
    // (rows = #steps) and the 1-row base broadcast.
    val events = (1L to 400L).flatMap { u =>
      Seq((u, "view", ts(1)), (u, "click", ts(2))) ++
        (if (u % 4 == 0) Seq((u, "purchase", ts(3))) else Nil)
    }.toDF("user_id", "event_type", "ts")
    events.write.mode("overwrite").format("parquet").bucketBy(4, "user_id")
      .saveAsTable("bkt_funnel_events")
    try {
      val out = Funnel.funnel(spark.table("bkt_funnel_events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      val got = out.as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._3, r._4)).toMap
      assert(got("view") == (400L, 1000000L))
      assert(got("click") == (400L, 1000000L))
      assert(got("purchase") == (100L, 250000L))
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(__u"),
        s"expected no user-key shuffle between funnel stages:\n${plan.take(4000)}")
    } finally spark.sql("DROP TABLE IF EXISTS bkt_funnel_events")
  }

  test("cohortRetention: exact matrix on a hand fixture") {
    val events = Seq(
      // cohort day 1: users 1,2 — user 1 returns day 2 and 3, user 2
      // returns day 3; two rows the same day collapse
      (1L, ts(1)), (1L, ts(1, 5)), (1L, ts(2)), (1L, ts(3)),
      (2L, ts(1)), (2L, ts(3)),
      // cohort day 2: user 3, never returns
      (3L, ts(2))
    ).toDF("user_id", "ts").withColumn("event_type",
      org.apache.spark.sql.functions.lit("view"))
    val got = Funnel.cohortRetention(events, "user_id", "ts")
      .as[(java.sql.Date, Long, Long, Long, Long)].collect()
      .map(r => (r._1.toString, r._2) -> (r._3, r._4, r._5)).toMap
    assert(got(("2024-01-01", 0L)) == (2L, 2L, 1000000L))
    assert(got(("2024-01-01", 1L)) == (1L, 2L, 500000L))
    assert(got(("2024-01-01", 2L)) == (2L, 2L, 1000000L))
    assert(got(("2024-01-02", 0L)) == (1L, 1L, 1000000L))
    assert(got.size == 4)
  }

  test("cohortRetentionWeekly: hand-built weekly matrix") {
    // user 1 first seen wk of Jan 1 (Mon), active again 2 weeks later;
    // user 2 first seen wk of Jan 8; user 3 shares user 1's cohort
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-02 10:00:00")), // cohort 1/1, off 0
      (1L, Timestamp.valueOf("2024-01-16 09:00:00")), // offset 2
      (2L, Timestamp.valueOf("2024-01-10 12:00:00")), // cohort 1/8, off 0
      (3L, Timestamp.valueOf("2024-01-07 23:00:00")), // cohort 1/1 (Sun)
      (3L, Timestamp.valueOf("2024-01-08 01:00:00"))  // offset 1
    ).toDF("user_id", "ts")
    val got = Funnel.cohortRetentionWeekly(ev, "user_id", "ts")
      .as[(java.sql.Date, Long, Long)].collect()
      .map(r => (r._1.toString, r._2) -> r._3).toMap
    assert(got == Map(
      ("2024-01-01", 0L) -> 2L, ("2024-01-01", 1L) -> 1L,
      ("2024-01-01", 2L) -> 1L, ("2024-01-08", 0L) -> 1L))
  }

  test("funnelOrdered: out-of-order steps never count, narrowing is monotone") {
    // u1 completes view->click->purchase in order; u2 purchases BEFORE
    // clicking (counts for steps 1-2 only); u3 views only
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "view"),
      (1L, Timestamp.valueOf("2024-01-01 10:05:00"), "click"),
      (1L, Timestamp.valueOf("2024-01-01 10:10:00"), "purchase"),
      (2L, Timestamp.valueOf("2024-01-01 09:00:00"), "view"),
      (2L, Timestamp.valueOf("2024-01-01 09:01:00"), "purchase"),
      (2L, Timestamp.valueOf("2024-01-01 09:30:00"), "click"),
      (3L, Timestamp.valueOf("2024-01-01 08:00:00"), "view")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.funnelOrdered(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "view", 3L), (2L, "click", 2L),
      (3L, "purchase", 1L)))
  }

  test("funnelOrdered: a same-timestamp step counts (at-or-after semantics)") {
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "view"),
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.funnelOrdered(ev, "user_id", "ts", "event_type",
        Seq("view", "click")).as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "view", 1L), (2L, "click", 1L)))
  }
}
