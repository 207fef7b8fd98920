package graft.maintenance

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance operators (reference: scripts/cleanup.py:88-237 archive /
  * purge, scripts/backfill.py:155-246 ranged backfill). The reference
  * expresses these as SQL DELETEs; on immutable columnar storage they
  * are partition-level filter/rewrite operations. With date-partitioned
  * layout all three prune at the scan — at 100 TB a 7-day purge touches
  * 7 directories, not the table.
  */
object Retention {

  /** Rows that survive a retention purge (cleanup.py:209-237
    * `DELETE WHERE ts < cutoff` — we keep the complement).
    */
  def retain(df: DataFrame, tsCol: String, cutoff: Column): DataFrame =
    df.filter(col(tsCol) >= cutoff)

  /** Rows an archive run moves out (cleanup.py:88-135 delete-returning-
    * insert): the archived slice, stamped with the archive time.
    */
  def archiveSlice(df: DataFrame, tsCol: String, cutoff: Column,
                   archivedAt: Column): DataFrame =
    df.filter(col(tsCol) < cutoff).withColumn("_archived_at", archivedAt)

  /** The date window a backfill rewrites (backfill.py:176-194
    * `DELETE WHERE ts >= start AND ts < end` then re-ingest).
    */
  def backfillWindow(df: DataFrame, tsCol: String, start: Column, end: Column): DataFrame =
    df.filter(col(tsCol) >= start && col(tsCol) < end)

  /** Idempotent ranged rewrite: overwrite only the partitions present in
    * `replacement` (Spark dynamic partition overwrite — the engine-level
    * equivalent of the reference's DELETE-then-reinsert batches). The
    * mode is a write option, not a session conf, so concurrent writers
    * of one session do not see each other's mode and none is left set.
    */
  def overwritePartitions(replacement: DataFrame, path: String,
                          partitionCol: String): Unit =
    replacement.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)

  /** Rename-aside directory swap: move the freshly-written `tmp` dir
    * into place at `live`, parking the previous live data at
    * `<live>.old` until the new data is in position. Never
    * delete-then-rename: a crash at ANY step leaves either the live
    * table on disk or a recoverable `.old` copy (plus the complete
    * rewrite in `tmp`) — an operator renames `.old` back or re-runs the
    * writer; no window exists in which the only copy is gone. (Renames
    * are still not atomic on object stores — production there should
    * swap a table-format pointer instead; this is the FS-level best.)
    *
    * `crashAfterStep` is a TEST-ONLY failpoint: the swap throws after
    * completing that many steps, simulating a kill between renames so
    * the recovery invariant can be asserted (RetentionSpec).
    */
  private[graft] def swapAside(fs: org.apache.hadoop.fs.FileSystem,
                               tmp: org.apache.hadoop.fs.Path,
                               live: org.apache.hadoop.fs.Path,
                               crashAfterStep: Int = Int.MaxValue): Unit = {
    val old = new org.apache.hadoop.fs.Path(live.toString + ".old")
    def step(n: Int)(action: => Unit): Unit = {
      action
      if (n >= crashAfterStep)
        throw new IllegalStateException(s"simulated crash after swap step $n")
    }
    step(1)(fs.delete(old, true)) // leftover from a previously-crashed swap
    step(2)(if (fs.exists(live)) fs.rename(live, old))
    step(3)(fs.rename(tmp, live))
    step(4)(fs.delete(old, true))
  }

  /** Small-file compaction: rewrite `path` so its data sits in
    * `ceil(bytes / targetBytes)` files instead of whatever fragment
    * count incremental appends left behind. At 100 TB the scan cost of
    * a layer is driven by file count (footer reads, task scheduling, no
    * intra-file parallelism below the split size) — a daily-append
    * bronze table accretes thousands of tiny files per partition and
    * compaction is the standing maintenance op that keeps scans linear.
    * When `partitionCol` is set the repartition keys on it, so each
    * day's rows land together and the writer preserves the partition
    * layout. The directory is listed ONCE (no TOCTOU between counting
    * files and summing bytes), a missing path fails with a clear
    * message, and a table already at or under the target count is a
    * NO-OP — rewriting well-laid-out data would churn 100 TB for
    * nothing. The rewrite lands via the rename-aside [[swapAside]], so
    * readers never observe a half-rewritten table and a crash never
    * loses the only copy. Returns (files before, files after).
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long = 128L << 20,
              partitionCol: Option[String] = None): (Long, Long) = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val fs = graft.Tables.fileSystem(spark, path)
    val live = new org.apache.hadoop.fs.Path(path)
    require(fs.exists(live), s"compact: no table at $path")
    def dataFiles(): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(live, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) buf += f }
      buf.toSeq
    }
    val before = dataFiles() // single listing: file count AND bytes from the same statuses
    val nOut = math.max(1, math.ceil(before.map(_.getLen).sum.toDouble / targetBytes).toInt)
    if (before.size <= nOut) (before.size.toLong, before.size.toLong)
    else {
      val df = spark.read.parquet(path)
      val (compacted, parts) = partitionCol match {
        case Some(pc) => (df.repartition(nOut, col(pc)), Seq(pc))
        case None     => (df.repartition(nOut), Seq.empty[String])
      }
      val tmp = path + ".compact"
      val writer = compacted.write.mode("overwrite")
      (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer).parquet(tmp)
      swapAside(fs, new org.apache.hadoop.fs.Path(tmp), live)
      (before.size.toLong, dataFiles().size.toLong)
    }
  }

  /** Metadata-level partition drop: delete every `partitionCol=<date>`
    * directory strictly before `cutoff`. This is the 100 TB half of an
    * archive move — the kept data is never rewritten; a 7-day purge
    * touches 7 directories. Returns the dropped partition values.
    */
  def dropPartitionsBefore(spark: SparkSession, path: String, partitionCol: String,
                           cutoff: java.time.LocalDate): Seq[String] = {
    val fs = graft.Tables.fileSystem(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(s"$partitionCol="))
      .flatMap { p =>
        val value = p.getName.stripPrefix(s"$partitionCol=")
        scala.util.Try(java.time.LocalDate.parse(value)).toOption
          .filter(_.isBefore(cutoff))
          .map { _ => fs.delete(p, true); value }
      }
  }
}
