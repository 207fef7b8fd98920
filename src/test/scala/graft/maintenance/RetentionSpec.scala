package graft.maintenance

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.TestSpark

class RetentionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def events = Seq(
    (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-05 10:00:00")),
    (3L, ts("2024-01-10 10:00:00")), (4L, ts("2024-01-15 10:00:00"))
  ).toDF("id", "ts")

  private val cutoff = to_timestamp(lit("2024-01-08 00:00:00"))

  test("retain + archiveSlice partition the table exactly") {
    val kept = Retention.retain(events, "ts", cutoff)
    val archived = Retention.archiveSlice(events, "ts", cutoff,
      to_timestamp(lit("2024-02-01 00:00:00")))
    assert(kept.count() + archived.count() == events.count())
    assert(kept.select("id").as[Long].collect().toSet == Set(3L, 4L))
    assert(archived.columns.contains("_archived_at"))
  }

  test("backfillWindow is a half-open interval") {
    val w = Retention.backfillWindow(events, "ts",
      to_timestamp(lit("2024-01-05 10:00:00")),
      to_timestamp(lit("2024-01-15 10:00:00")))
    assert(w.select("id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("compact bin-packs small files without changing the data") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/table"
    // 3 appends x 8 partitions = 24 tiny files
    (1 to 3).foreach { i =>
      spark.range(i * 1000, i * 1000 + 100).toDF("v")
        .withColumn("day", (col("v") % 2).cast("string"))
        .repartition(8)
        .write.mode("append").partitionBy("day").parquet(dir)
    }
    val beforeData = spark.read.parquet(dir)
      .select("v", "day").as[(Long, String)].collect().toSet
    val (before, after) = Retention.compact(spark, dir,
      targetBytes = 128L << 20, partitionCol = Some("day"))
    assert(before >= 24)
    assert(after <= 2) // one output slot, split across the 2 day dirs
    val afterData = spark.read.parquet(dir)
      .select("v", "day").as[(Long, String)].collect().toSet
    assert(afterData == beforeData)
  }

  test("compact works on unpartitioned tables") {
    val dir = java.nio.file.Files.createTempDirectory("compactu").toString + "/table"
    spark.range(0, 1000).toDF("v").repartition(16).write.parquet(dir)
    val (before, after) = Retention.compact(spark, dir)
    assert(before == 16 && after == 1)
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("compact is a no-op on an already-compacted table (no rewrite churn)") {
    val dir = java.nio.file.Files.createTempDirectory("compactn").toString + "/table"
    (1L to 5000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(40).write.parquet(dir)
    assert(Retention.compact(spark, dir, targetBytes = 512L << 20) == ((40L, 1L)))
    val mtime = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).toSeq
    // second run: 1 file <= byte-derived target of 1 -> short-circuit
    assert(Retention.compact(spark, dir, targetBytes = 512L << 20) == ((1L, 1L)))
    assert(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).toSeq == mtime)
  }

  test("compact splits to the byte-derived file count, not always 1") {
    val dir = java.nio.file.Files.createTempDirectory("compactb").toString + "/table"
    (1L to 20000L).map(i => (i, ("x" * 100) + i)).toDF("k", "v")
      .repartition(64).write.parquet(dir)
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val target = bytes / 3 // force ~4 output files (ceil division)
    val (before, after) = Retention.compact(spark, dir, targetBytes = target)
    assert(before == 64)
    assert(after == (bytes + target - 1) / target && after > 1 && after < 64)
    assert(spark.read.parquet(dir).count() == 20000L)
  }

  test("compact fails with a clear message on a missing path") {
    val e = intercept[IllegalArgumentException] {
      Retention.compact(spark, "/nonexistent/graft/table")
    }
    assert(e.getMessage.contains("no table at"))
  }

  test("swapAside never loses the only copy: kill-between-renames simulation") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    def readSet(p: String): Set[Long] =
      spark.read.parquet(p).select("v").as[Long].collect().toSet
    val oldData = (0L until 100L).toSet
    val newData = (100L until 200L).toSet
    (1 to 3).foreach { crashStep =>
      val dir = java.nio.file.Files.createTempDirectory(s"swap$crashStep").toString
      val live = s"$dir/table"
      val tmp = s"$dir/table.tmp"
      oldData.toSeq.toDF("v").coalesce(1).write.parquet(live)
      newData.toSeq.toDF("v").coalesce(1).write.parquet(tmp)
      intercept[IllegalStateException] {
        Retention.swapAside(fs, new org.apache.hadoop.fs.Path(tmp),
          new org.apache.hadoop.fs.Path(live), crashAfterStep = crashStep)
      }
      // Invariant: at every intermediate point a complete copy of the
      // data survives — live (old or new), or the .old recovery copy.
      val liveExists = fs.exists(new org.apache.hadoop.fs.Path(live))
      val oldExists = fs.exists(new org.apache.hadoop.fs.Path(live + ".old"))
      if (liveExists) assert(readSet(live) == oldData || readSet(live) == newData)
      else {
        // killed between the renames: the .old recovery copy MUST exist
        assert(oldExists && readSet(live + ".old") == oldData)
        assert(fs.exists(new org.apache.hadoop.fs.Path(tmp)) && readSet(tmp) == newData)
      }
      if (crashStep == 2) assert(!liveExists && oldExists) // the dangerous window
    }
    // and a clean run completes: new data live, no residue
    val dir = java.nio.file.Files.createTempDirectory("swapok").toString
    val live = s"$dir/table"
    val tmp = s"$dir/table.tmp"
    oldData.toSeq.toDF("v").coalesce(1).write.parquet(live)
    newData.toSeq.toDF("v").coalesce(1).write.parquet(tmp)
    Retention.swapAside(fs, new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(live))
    assert(readSet(live) == newData)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(live + ".old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tmp)))
  }

  test("dropPartitionsBefore drops only date partitions strictly before the cutoff") {
    val dir = java.nio.file.Files.createTempDirectory("drop").toString + "/table"
    val partitions = Seq("d=2024-01-01", "d=2024-01-04", "d=2024-01-05", "d=2024-01-09",
      "d=not-a-date", "e=2024-01-01")
    partitions.foreach(p => new java.io.File(s"$dir/$p").mkdirs())
    Seq("d=2024-01-02", "_SUCCESS").foreach(f => new java.io.File(s"$dir/$f").createNewFile())
    val dropped = Retention.dropPartitionsBefore(spark, dir, "d",
      java.time.LocalDate.parse("2024-01-05"))
    assert(dropped.sorted == Seq("2024-01-01", "2024-01-04"))
    assert(new java.io.File(dir).list().toSet == Set("d=2024-01-05", "d=2024-01-09",
      "d=not-a-date", "e=2024-01-01", "d=2024-01-02", "_SUCCESS"))
    assert(Retention.dropPartitionsBefore(spark, s"$dir.missing", "d",
      java.time.LocalDate.parse("2024-01-05")).isEmpty)
  }

  test("overwritePartitions rewrites only touched partitions, idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("retention").toString + "/table"
    val full = Seq(("2024-01-01", 1L), ("2024-01-02", 2L), ("2024-01-03", 3L))
      .toDF("day", "v")
    full.write.partitionBy("day").parquet(dir)
    // replace one day with restated values; other partitions untouched
    val restated = Seq(("2024-01-02", 99L)).toDF("day", "v")
    Retention.overwritePartitions(restated, dir, "day")
    Retention.overwritePartitions(restated, dir, "day") // idempotent
    val back = spark.read.parquet(dir)
      .select("day", "v").as[(String, Long)].collect().toSet
    assert(back == Set(("2024-01-01", 1L), ("2024-01-02", 99L), ("2024-01-03", 3L)))
  }
}
