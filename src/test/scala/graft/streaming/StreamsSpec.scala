package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp
import graft.TestSpark

class StreamsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("userSessions accumulates typed per-key state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.UserEvent]
    val sessions = Streams.userSessions(input.toDS())
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    try {
      input.addData(Streams.UserEvent(1L, ts("2024-01-01 10:00:00"),
        new java.math.BigDecimal("10.0")))
      q.processAllAvailable()
      input.addData(Streams.UserEvent(1L, ts("2024-01-01 11:00:00"),
        new java.math.BigDecimal("5.0")))
      q.processAllAvailable()
      val last = spark.table("sessions")
        .orderBy($"events".desc).as[Streams.UserSession].collect().head
      assert(last.events == 2 && last.total.compareTo(
        new java.math.BigDecimal("15.0")) == 0)
      assert(last.lastSeen == ts("2024-01-01 11:00:00"))
    } finally q.stop()
  }

  test("exactNearDupSink: telescopes to the full exact join, pairs disjoint") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("endsink").toString
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val chunks = docs.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val input = MemoryStream[(Long, String)]
    val q = Streams.exactNearDupSink(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$root/state", s"$root/ckpt", threshold = 0.9)
    try {
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.read.parquet(s"$root/state/pairs")
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    // the EXACT contract: equality against the one-shot exact join —
    // not an LSH pair set but the deterministic-recall truth
    val full = graft.dedup.NearDup.prefixFilterPairs(
        docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.9, shingleN = 3)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(streamed == full)
    assert(streamed.nonEmpty)
    // each pair exactly once, at the batch its later member arrived
    assert(spark.read.parquet(s"$root/state/pairs")
      .select("id1", "id2").distinct().count() ==
      spark.read.parquet(s"$root/state/pairs").count())
  }

  test("streamIntervalJoin matches the batch interval join") {
    import org.apache.spark.sql.functions.{col, expr}
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val views = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val joined = Streams.streamIntervalJoin(
      views.toDF().toDF("user", "view_ts"),
      buys.toDF().toDF("user", "buy_ts"),
      "user", "view_ts", "buy_ts",
      watermark = "10 minutes", horizon = "15 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      views.addData((1L, ts(0)), (2L, ts(5)), (3L, ts(10)))
      buys.addData((1L, ts(12)), (2L, ts(30)), (3L, ts(11)), (4L, ts(9)))
      q.processAllAvailable()
      // advance both watermarks so in-horizon results are final
      views.addData((99L, ts(59))); buys.addData((98L, ts(59)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj").select("user", "view_ts", "buy_ts")
      .as[(Long, Timestamp, Timestamp)].collect().toSet
    // user 1: buy 12 min after view -> in horizon; user 2: 25 min -> out;
    // user 3: 1 min -> in; user 4: buy with no view -> inner join drops
    assert(got == Set((1L, ts(0), ts(12)), (3L, ts(10), ts(11))))
    // batch twin: same predicate on static frames
    val bt = Seq((1L, ts(0)), (2L, ts(5)), (3L, ts(10))).toDF("user", "view_ts")
      .join(Seq((1L, ts(12)), (2L, ts(30)), (3L, ts(11)), (4L, ts(9)))
        .toDF("u2", "buy_ts"),
        col("user") === col("u2") && col("buy_ts") >= col("view_ts")
          && col("buy_ts") <= col("view_ts") + expr("INTERVAL 15 minutes"))
      .select("user", "view_ts", "buy_ts")
      .as[(Long, Timestamp, Timestamp)].collect().toSet
    assert(got == bt)
  }

  test("hash sampling is replay-stable: batch split doesn't change the sample") {
    // df.sample draws from partition-seeded RNG, so a streaming replay
    // or re-batching changes which rows survive — Sample.hashSample
    // decides per row from the id, so any micro-batch split selects
    // exactly the batch sample (the property exactly-once pipelines need)
    implicit val sqlCtx = spark.sqlContext
    val ids = (1L to 1000L).map(i => i * 31 % 997)
    val batchKept = graft.operators.Sample
      .hashSample(ids.toDF("id"), "id", permille = 300)
      .as[Long].collect().toSet

    def runSplit(name: String, chunks: Seq[Seq[Long]]): Set[Long] = {
      val input = MemoryStream[Long]
      val sampled = graft.operators.Sample
        .hashSample(input.toDF().toDF("id"), "id", permille = 300)
      val q = sampled.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        chunks.foreach { c => input.addData(c); q.processAllAvailable() }
        spark.table(name).as[Long].collect().toSet
      } finally q.stop()
    }

    val twoBatches = runSplit("sample2", Seq(ids.take(400), ids.drop(400)))
    val fiveBatches = runSplit("sample5", ids.grouped(200).toSeq)
    assert(twoBatches == batchKept)
    assert(fiveBatches == batchKept)
    assert(batchKept.nonEmpty && batchKept.size < ids.toSet.size)
  }

  test("sessionWindowKpis runs as a watermarked stream with the batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "1 hour")
    val sessions = Streams.sessionWindowKpis(events, "ts", "user_id", "value",
      gap = "30 minutes")
    val q = sessions.writeStream.format("memory").queryName("swk")
      .outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, 1.0),
        (ts("2024-01-01 10:10:00"), 1L, 2.0),  // same session (gap 10m)
        (ts("2024-01-01 10:40:00"), 1L, 4.0),  // exactly 30m after 10:10
        (ts("2024-01-01 12:00:00"), 1L, 8.0))  // new session
      q.processAllAvailable()
      val out = spark.table("swk").orderBy("session_start")
        .select("n_events", "total_value").as[(Long, Double)].collect().toSeq
      // 10:40 arrives EXACTLY 30m after 10:10: Spark merges when the
      // new window's start equals the previous end, so it extends the
      // session (probed; the q166 oracle replays the same convention)
      assert(out == Seq((3L, 7.0), (1L, 8.0)))
    } finally q.stop()
  }

  test("cdcSink: per-batch diffs reconstruct the latest snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cdc").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.cdcSink(input.toDF().toDF("id", "v"), Seq("id"),
      s"$dir/snap", s"$dir/feed", s"$dir/chk")
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((1L, "a2"), (3L, "c")) // update 1, delete 2, insert 3
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$dir/feed/batch=0")
        .select("id", "change_type").as[(Long, String)].collect().toSet
      assert(b0 == Set((1L, "insert"), (2L, "insert")))
      val b1 = spark.read.parquet(s"$dir/feed/batch=1")
        .select("id", "change_type").as[(Long, String)].collect().toSet
      assert(b1 == Set((1L, "update"), (2L, "delete"), (3L, "insert")))
      val snap = Streams.currentSnapshot(spark, s"$dir/snap")
        .as[(Long, String)].collect().toSet
      assert(snap == Set((1L, "a2"), (3L, "c")))
      // only the latest version is retained (older ones retired after
      // the newer commit — no replay can need them again)
      assert(new java.io.File(s"$dir/snap").list()
        .count(_.matches("v=\\d+")) == 1)
    } finally q.stop()
  }

  test("aggSink: streamed changefeed batches maintain the exact aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("aggs").toString
    // feed rows in the snapshotDiff shape: (change_type, old_g, new_g,
    // old_v, new_v)
    val input = MemoryStream[(String, String, String, java.lang.Double,
      java.lang.Double)]
    val q = Streams.aggSink(
      input.toDF().toDF("change_type", "old_g", "new_g", "old_v", "new_v"),
      "g", "v", s"$dir/agg", s"$dir/chk")
    try {
      input.addData(
        ("insert", null, "a", null, 10.0),
        ("insert", null, "a", null, 5.0),
        ("insert", null, "b", null, 7.0))
      q.processAllAvailable()
      val v1 = Streams.currentSnapshot(spark, s"$dir/agg")
        .select("g", "sum_value", "n_rows")
        .as[(String, java.math.BigDecimal, Long)].collect()
        .map(r => (r._1, r._2.doubleValue, r._3)).toSet
      assert(v1 == Set(("a", 15.0, 2L), ("b", 7.0, 1L)))
      input.addData(
        ("update", "a", "b", 10.0, 11.0), // group-moving update
        ("delete", "b", null, 7.0, null),
        ("insert", null, "c", null, 2.0))
      q.processAllAvailable()
      val v2 = Streams.currentSnapshot(spark, s"$dir/agg")
        .select("g", "sum_value", "n_rows")
        .as[(String, java.math.BigDecimal, Long)].collect()
        .map(r => (r._1, r._2.doubleValue, r._3)).toSet
      assert(v2 == Set(("a", 5.0, 1L), ("b", 11.0, 1L), ("c", 2.0, 1L)))
      // only the latest version is retained
      assert(new java.io.File(s"$dir/agg").list()
        .count(_.matches("v=\\d+")) == 1)
    } finally q.stop()
  }

  test("aggSink: replay BELOW the max committed version is a no-op") {
    // backup-restored checkpoint: the sink committed v=1 (v=0 already
    // retired), then a fresh stream restarts numbering at batchId 0.
    // An exists(v=0) probe would find nothing and fold batch 0's
    // delta onto the NEWER v=1 state a second time; the max-version
    // guard must leave the maintained table untouched.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("aggr").toString
    val input = MemoryStream[(String, String, String, java.lang.Double,
      java.lang.Double)]
    val q = Streams.aggSink(
      input.toDF().toDF("change_type", "old_g", "new_g", "old_v", "new_v"),
      "g", "v", s"$dir/agg", s"$dir/chk")
    try {
      input.addData(("insert", null: String, "a", null: java.lang.Double,
        java.lang.Double.valueOf(10.0)))
      q.processAllAvailable()
      input.addData(("insert", null: String, "a", null: java.lang.Double,
        java.lang.Double.valueOf(5.0)))
      q.processAllAvailable()
    } finally q.stop()
    assert(new java.io.File(s"$dir/agg").list().toSeq == Seq("v=1"))
    val replay = MemoryStream[(String, String, String, java.lang.Double,
      java.lang.Double)]
    val q2 = Streams.aggSink(
      replay.toDF().toDF("change_type", "old_g", "new_g", "old_v", "new_v"),
      "g", "v", s"$dir/agg", s"$dir/chk2")
    try {
      replay.addData(("insert", null: String, "a", null: java.lang.Double,
        java.lang.Double.valueOf(10.0))) // batchId 0 again
      q2.processAllAvailable()
      val got = Streams.currentSnapshot(spark, s"$dir/agg")
        .select("g", "sum_value", "n_rows")
        .as[(String, java.math.BigDecimal, Long)].collect()
        .map(r => (r._1, r._2.doubleValue, r._3)).toSet
      assert(got == Set(("a", 15.0, 2L)))
      assert(new java.io.File(s"$dir/agg").list().toSeq == Seq("v=1"))
      // the silent-discard guard is observable: the dropped batch is
      // counted per store root (and WARN-logged)
      assert(Streams.skippedBatches(s"$dir/agg") == 1L)
    } finally q2.stop()
  }

  test("cdcSink: a replayed batch is a no-op (feed not clobbered)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cdcr").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.cdcSink(input.toDF().toDF("id", "v"), Seq("id"),
      s"$dir/snap", s"$dir/feed", s"$dir/chk")
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
    } finally q.stop()
    // crash-after-snapshot-commit-before-checkpoint-commit replay: the
    // same batchId arrives again (fresh checkpoint restarts at 0) with
    // v=0 already on disk — the r09 hazard diffed the snapshot against
    // itself here and overwrote feed/batch=0 with an EMPTY feed.
    val replay = MemoryStream[(Long, String)]
    val q2 = Streams.cdcSink(replay.toDF().toDF("id", "v"), Seq("id"),
      s"$dir/snap", s"$dir/feed", s"$dir/chk2")
    try {
      replay.addData((1L, "a"), (2L, "b"))
      q2.processAllAvailable()
      val b0 = spark.read.parquet(s"$dir/feed/batch=0")
        .select("id", "change_type").as[(Long, String)].collect().toSet
      assert(b0 == Set((1L, "insert"), (2L, "insert")))
      val snap = Streams.currentSnapshot(spark, s"$dir/snap")
        .as[(Long, String)].collect().toSet
      assert(snap == Set((1L, "a"), (2L, "b")))
    } finally q2.stop()
  }
}
