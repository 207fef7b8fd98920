package graft.maintenance

import java.io.IOException
import java.time.LocalDate

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopStreams
import org.apache.parquet.io.{InputFile, SeekableInputStream}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType

/** Maintenance operators (reference: scripts/cleanup.py:88-237 archive /
  * purge, scripts/backfill.py:155-246 ranged backfill). The reference
  * expresses these as SQL DELETEs; on immutable columnar storage they
  * are row filters (`retain`, `archiveSlice`, `backfillWindow`) or, over
  * a date-partitioned table, partition-level operations: a backfill
  * overwrites its days' directories, a purge deletes them and an archive
  * renames them into the archive table. At 100 TB a 7-day purge or
  * archive touches 7 directories, not the table.
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

  /** Metadata-level retention purge: delete every `partitionCol=<date>`
    * directory strictly before `cutoff`. The kept data is never
    * rewritten; a 7-day purge touches 7 directories. Returns the dropped
    * partition values.
    */
  def dropPartitionsBefore(spark: SparkSession, path: String, partitionCol: String,
                           cutoff: LocalDate): Seq[String] = {
    val fs = graft.Tables.fileSystem(spark, path)
    datePartitionsBefore(fs, new Path(path), partitionCol, cutoff).map { case (value, dir) =>
      fs.delete(dir, true)
      value
    }
  }

  /** Archive move (cleanup.py:88-135 `DELETE .. RETURNING` into the
    * archive) as a metadata operation: every `partitionCol=<date>`
    * directory of `path` strictly before `cutoff` is renamed to
    * `<archivePath>/partitionCol=<date>/_archived_at=<archivedAt>`. No
    * row is read or rewritten, so the move starts no Spark job. Bronze's
    * files keep their own columns; `_archived_at` is a partition column,
    * its directory value written as Spark's partitioned writer writes a
    * timestamp (cast to string in the session time zone, then escaped).
    * A read in that time zone gets `archivedAt` back: inferred as a
    * timestamp when it has at most one fractional digit (Spark's
    * partition inference pattern), and by the schema's type otherwise.
    *
    * An archive partition of the same date is deleted first, so
    * re-archiving a day that a backfill re-ingested replaces it. Each
    * day then moves with one rename, so a row is always in exactly one
    * of the live table and the archive: a crash between two days leaves
    * the days not yet moved live, and a re-run moves them. Returns the
    * archived rows, summed from the moved files' parquet footers on the
    * driver.
    */
  def archivePartitionsBefore(spark: SparkSession, path: String, archivePath: String,
                              partitionCol: String, cutoff: LocalDate,
                              archivedAt: java.sql.Timestamp): Long = {
    val fs = graft.Tables.fileSystem(spark, path)
    val zone = spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)
    val stamp = ExternalCatalogUtils.getPartitionPathString("_archived_at",
      Cast(Literal(archivedAt), StringType, Some(zone)).eval().toString)
    datePartitionsBefore(fs, new Path(path), partitionCol, cutoff).map { case (_, live) =>
      val day = new Path(archivePath, live.getName)
      val moved = new Path(day, stamp)
      fs.delete(day, true)
      fs.mkdirs(day)
      if (!fs.rename(live, moved)) throw new IOException(s"archive: cannot move $live to $moved")
      parquetRows(fs, moved)
    }.sum
  }

  /** The `partitionCol=<date>` directories directly under `base` whose
    * date is strictly before `cutoff`, with their date values. Other
    * directories and plain files are ignored; a missing `base` has none.
    */
  private def datePartitionsBefore(fs: FileSystem, base: Path, partitionCol: String,
                                   cutoff: LocalDate): Seq[(String, Path)] =
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(s"$partitionCol="))
      .flatMap { dir =>
        val value = dir.getName.stripPrefix(s"$partitionCol=")
        scala.util.Try(LocalDate.parse(value)).toOption
          .filter(_.isBefore(cutoff))
          .map(_ => value -> dir)
      }

  /** Rows in the parquet files under `dir`, from their footers, each
    * opened through `fs`. */
  private def parquetRows(fs: FileSystem, dir: Path): Long = {
    val files = fs.listFiles(dir, true)
    var rows = 0L
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val reader = ParquetFileReader.open(new InputFile {
          def getLength: Long = f.getLen
          def newStream(): SeekableInputStream = HadoopStreams.wrap(fs.open(f.getPath))
        })
        try rows += reader.getRecordCount finally reader.close()
      }
    }
    rows
  }
}
