package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming faces of the batch operators. The reference is
  * batch-only on a daily cron (SURVEY §2.9); these give the same
  * semantics continuously: session windows, watermarked dedup,
  * stream-static enrichment and stream-stream joins, typed per-key
  * state via mapGroupsWithState, and foreachBatch sinks (exact
  * near-dup, CDC, aggregate maintenance, quality scoring) whose
  * streamed output equals the batch operator's.
  */
object Streams {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-store-root count of batches discarded by the max-version
    * replay guard in [[cdcSink]]/[[aggSink]]. A nonzero count on a
    * HEALTHY job means checkpoint replay after a crash (expected,
    * usually 0 or 1); a steadily growing count means the
    * misconfiguration the guard cannot distinguish from replay — a
    * RESET/deleted checkpoint pointed at an existing store, whose
    * genuinely new batches re-number from 0 and are silently at-or-
    * below the store's max committed version. Each skip also logs a
    * WARN. A fresh checkpoint REQUIRES a fresh store path.
    */
  def skippedBatches(storeRoot: String): Long =
    Option(skippedBatchCounts.get(storeRoot)).map(_.sum).getOrElse(0L)

  private val skippedBatchCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()

  private def noteSkippedBatch(sink: String, storeRoot: String,
                               batchId: Long, maxCommitted: Long): Unit = {
    skippedBatchCounts
      .computeIfAbsent(storeRoot, _ => new java.util.concurrent.atomic.LongAdder)
      .increment()
    log.warn(s"$sink: DISCARDING batch $batchId at $storeRoot — at or below " +
      s"max committed version $maxCommitted. Expected once after a crash " +
      s"(checkpoint replay); if this repeats, a reset checkpoint is pointed " +
      s"at an existing store (fresh checkpoint requires a fresh store path) " +
      s"and new data is being dropped.")
  }

  /** Per-user gap-based sessions via the NATIVE `session_window`
    * operator — the built-in complement to the typed
    * mapGroupsWithState face ([[userSessions]]): Catalyst merges
    * overlapping [ts, ts+gap) ranges per key, in batch AND streaming
    * from one definition (streaming needs a watermark on `tsCol`
    * before the groupBy; batch backfill runs it as-is, which is what
    * lets q166 hash-oracle the session semantics against a SQL
    * gaps-and-islands replay). Boundary convention, pinned by probe:
    * an event arriving EXACTLY `gap` after the previous one still
    * extends the session — Spark merges when the new window's start
    * equals the previous window's end — so a new session needs a gap
    * strictly greater. `session_end` = last event + gap.
    */
  def sessionWindowKpis(events: DataFrame, tsCol: String, userCol: String,
                        valueCol: String,
                        gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col(userCol), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(graft.Exprs.Money)).cast("double")
          .as("total_value"))
      .select(col(userCol), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"),
        col("total_value"))

  /** EXACT continuous near-dup: each micro-batch joins the accumulated
    * corpus through
    * [[graft.dedup.NearDup.incrementalPrefixFilterPairs]], so every
    * Jaccard ≥ `threshold` pair is GUARANTEED found (no LSH recall
    * bound), and the union of `pairs/` is provably the full-corpus
    * [[graft.dedup.NearDup.prefixFilterPairs]] pair set: each pair is
    * emitted exactly once, at the batch its LATER member arrived.
    * That telescoping makes the sink hash-oracle-able batch-
    * equivalently (q207). The cost: each batch re-aggregates shingle
    * frequencies over base ∪ incoming (the shared-order requirement of
    * the prefix theorem), one map-side-combinable pass over the corpus
    * per batch — daily-append cadence absorbs that.
    *
    * Exactly-once without a transactional sink: each batch writes its
    * `pairs/` and `corpus/` outputs under `batch=<id>` subdirectories
    * with overwrite, so a checkpoint replay rewrites the same
    * directories, and the base read EXCLUDES the replaying batch's own
    * partition (a partition-pruned filter, no scan cost): a replayed
    * first batch sees an EMPTY base and degenerates to the
    * within-batch join, exactly what the original run computed.
    */
  def exactNearDupSink(docs: DataFrame, idCol: String, textCol: String,
                       root: String, checkpoint: String,
                       threshold: Double = 0.9, shingleN: Int = 3,
                       maxBucketSize: Int = 100000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val nd = graft.dedup.NearDup
        val b = batch.select(col(idCol), col(textCol))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (corpusDir, pairsDir) = (s"$root/corpus", s"$root/pairs")
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
        val pairs =
          if (fs.exists(new org.apache.hadoop.fs.Path(corpusDir))) {
            val base = spark.read.parquet(corpusDir)
              .filter(col("batch") =!= batchId).drop("batch")
              .select(col(idCol), col(textCol))
            nd.incrementalPrefixFilterPairs(base, b, idCol, textCol,
              threshold, shingleN, maxBucketSize)
          } else
            nd.prefixFilterPairs(b, idCol, textCol, threshold, shingleN,
              maxBucketSize)
        pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
        b.write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
        b.unpersist()
        ()
      }
      .start()

  /** Continuous CDC extraction from snapshot drops: each micro-batch
    * is a FULL new snapshot version of a keyed table (the cadence
    * stores without changelogs publish at); the sink diffs it against
    * the previously stored snapshot via
    * [[graft.operators.SnapshotDiff.snapshotDiff]], appends the
    * insert/update/delete feed under `feedDir/batch=N`, and stores the
    * new snapshot under `snapshotPath/v=N`. Downstream incrementals
    * (SCD2 apply, upsert sinks, audit) consume diffs instead of
    * reprocessing snapshots; read the live snapshot with
    * [[currentSnapshot]]. The first batch emits everything as inserts
    * against an empty baseline.
    *
    * Replay safety (foreachBatch is at-least-once): the snapshot is
    * VERSIONED BY batchId and written last, so if the job dies after
    * the snapshot commit but before the checkpoint commit, the replay
    * sees its batchId at-or-below the max committed version and is a
    * complete no-op — the r09 hazard was an unversioned swap, where
    * the replay diffed the new snapshot against itself and overwrote
    * `feedDir/batch=N` with an empty feed. The guard compares against
    * the MAX committed version (not merely `exists(v=N)`): older
    * versions are retired after each commit, so an exact-probe guard
    * would let a backup-restored checkpoint replay a LOWER batchId on
    * top of newer state. Versions older than a committed `v=N` can
    * never be needed by any replay again and are retired in the same
    * batch. Every discarded batch logs a WARN and bumps
    * [[skippedBatches]] — the guard cannot tell a replay from a RESET
    * checkpoint over an existing store (whose new batches re-number
    * from 0 and would be silently dropped), so a fresh checkpoint
    * REQUIRES a fresh `snapshotPath`/`feedDir`.
    */
  def cdcSink(snapshots: DataFrame, keys: Seq[String], snapshotPath: String,
              feedDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshots.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(snapshotPath),
          spark.sparkContext.hadoopConfiguration)
        val root = new org.apache.hadoop.fs.Path(snapshotPath)
        val cur = new org.apache.hadoop.fs.Path(root, s"v=$batchId")
        val prevIds = snapshotVersions(fs, root)
        // Replay guard must compare against the MAX committed version,
        // not just probe for v=batchId: older versions are retired
        // after each commit, so a replay whose batchId is below the
        // newest retained version (checkpoint restored from a backup)
        // would find its own v= absent, diff against the NEWER
        // snapshot, and overwrite the feed with garbage. Any
        // batchId <= max committed is already folded in — no-op.
        if (prevIds.forall(_ < batchId)) {
          val b = batch.persist()
          val prev = prevIds.lastOption match {
            case Some(id) => spark.read.parquet(s"$snapshotPath/v=$id")
            case None     => b.limit(0)
          }
          graft.operators.SnapshotDiff.snapshotDiff(prev, b, keys)
            .write.mode("overwrite").parquet(s"$feedDir/batch=$batchId")
          // write-then-rename underneath, so a crash mid-write leaves a
          // .tmp dir (never a half `v=N` that a replay would trust)
          graft.pipeline.Runner.overwriteSwapped(b, cur.toString)
          prevIds.foreach(id =>
            fs.delete(new org.apache.hadoop.fs.Path(root, s"v=$id"), true))
          b.unpersist()
        } else noteSkippedBatch("cdcSink", snapshotPath, batchId, prevIds.max)
        ()
      }
      .start()

  /** Continuous materialized-view maintenance — the streaming face of
    * [[graft.operators.IncrementalAgg]]: each micro-batch is a
    * changefeed (the [[cdcSink]] / `snapshotDiff` shape, `change_type`
    * + `old_*`/`new_*` columns) and folds into the stored per-group
    * sum/count aggregate without ever rescanning the base table.
    * Together with [[cdcSink]] this closes the loop: snapshot drops →
    * diff feed → continuously-maintained aggregate, all incremental.
    *
    * Replay safety: the aggregate is versioned by batchId exactly like
    * [[cdcSink]]'s snapshots — written last via write-then-rename, a
    * replay that finds `v=N` on disk is a no-op, versions older than a
    * committed `v=N` are retired in the same batch. Exactness: the
    * maintained sum stays DECIMAL, so the stored table equals the
    * from-scratch aggregate of the underlying snapshot BIT-exactly at
    * every version (decimal addition is associative — see
    * IncrementalAgg's scaladoc). Read the live table with
    * [[currentSnapshot]] (same layout).
    */
  def aggSink(feed: DataFrame, groupCol: String, valueCol: String,
              aggPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(aggPath), spark.sparkContext.hadoopConfiguration)
        val root = new org.apache.hadoop.fs.Path(aggPath)
        val cur = new org.apache.hadoop.fs.Path(root, s"v=$batchId")
        val prevIds = snapshotVersions(fs, root)
        // same max-version replay guard as cdcSink: a backup-restored
        // checkpoint replaying batchId below the newest retained
        // version must NOT apply its delta on top of the newer state
        if (prevIds.forall(_ < batchId)) {
          val prev = prevIds.lastOption match {
            case Some(id) => spark.read.parquet(s"$aggPath/v=$id")
            case None => batch
              .select(col(s"new_$groupCol").as(groupCol)).limit(0)
              .withColumn("sum_value",
                lit(0).cast(graft.operators.IncrementalAgg.Acc))
              .withColumn("n_vals", lit(0L))
              .withColumn("n_rows", lit(0L))
          }
          val next = graft.operators.IncrementalAgg.applyAggDelta(
            prev, batch, groupCol, valueCol)
          graft.pipeline.Runner.overwriteSwapped(next, cur.toString)
          prevIds.foreach(id =>
            fs.delete(new org.apache.hadoop.fs.Path(root, s"v=$id"), true))
        } else noteSkippedBatch("aggSink", aggPath, batchId, prevIds.max)
        ()
      }
      .start()

  /** Streaming face of the model-based quality filter: score each
    * arriving micro-batch against a FROZEN token log-odds model (the
    * production deployment mode — train offline on a trusted corpus,
    * filter the crawl firehose online) and land the scored rows under
    * a per-batch dir. Replay-idempotent by construction: a restarted
    * batch overwrites its OWN `b=<id>` dir (rename-aside swap), never
    * double-appends — per-doc scoring carries no cross-batch state,
    * so no version guard is needed. `model` is nbTrain's output (its
    * count table is already checkpointed, so per-batch reuse never
    * re-scans the training corpus).
    */
  def scoreFilterSink(docs: DataFrame, model: DataFrame, idCol: String,
                      textCol: String, root: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val scored = graft.text.QualityClassifier
          .nbScore(batch, idCol, textCol, model)
          .withColumn("keep", col("score") > 0)
        graft.pipeline.Runner.overwriteSwapped(scored, s"$root/b=$batchId")
        ()
      }
      .start()

  /** Committed snapshot versions under a [[cdcSink]] root, ascending.
    * `v=N.tmp` in-flight dirs parse to no Long and are excluded.
    */
  private def snapshotVersions(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .flatMap(n => scala.util.Try(n.drop(2).toLong).toOption)
      .sorted

  /** The live (max-version) snapshot a [[cdcSink]] maintains. */
  def currentSnapshot(spark: org.apache.spark.sql.SparkSession,
                      snapshotPath: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(snapshotPath), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(snapshotPath)
    val ids = snapshotVersions(fs, root)
    require(ids.nonEmpty, s"no committed snapshot under $snapshotPath")
    spark.read.parquet(s"$snapshotPath/v=${ids.last}")
  }

  /** Stream-stream event-time interval join — the attribution shape
    * (view → purchase within a horizon) as a continuous query. Both
    * sides carry a watermark and the join predicate bounds the right
    * event inside `[leftTs, leftTs + horizon]`, which is exactly what
    * lets Spark EXPIRE join state: without the time bound each side
    * would buffer forever (Spark rejects the unbounded inner
    * stream-stream join outright when watermarks are missing).
    * Non-key column names must be disjoint — the output carries both
    * timestamp columns for downstream latency math (the key appears
    * once). State size ≈ horizon × arrival rate per side, independent
    * of stream lifetime; the batch twin (same predicate on static
    * frames) is what the unit compares against.
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                         leftTs: String, rightTs: String,
                         watermark: String = "1 hour",
                         horizon: String = "1 hour"): DataFrame = {
    val r = right.withColumnRenamed(keyCol, "__rkey")
      .withWatermark(rightTs, watermark)
    left.withWatermark(leftTs, watermark)
      .join(r, col(keyCol) === col("__rkey")
        && col(rightTs) >= col(leftTs)
        && col(rightTs) <= col(leftTs) + expr(s"INTERVAL $horizon"))
      .drop("__rkey")
  }

  /** Stream-static dimension enrichment — the most common streaming
    * operator in production: every arriving fact row left-joins a
    * SLOW dimension table (customer, product, geo) and lands enriched,
    * so downstream consumers never re-join. Stateless — no watermark,
    * no state store: Spark re-plans the static side per micro-batch
    * (a dim update between batches is picked up on the next one), and
    * the broadcast hint keeps each batch's join exchange-free — the
    * dim ships once per executor, the stream never shuffles. `dimCols`
    * selects what lands (key collisions with stream columns are the
    * caller's to rename). Append parquet + checkpoint = exactly-once
    * on replay.
    */
  def enrichSink(stream: DataFrame, dim: DataFrame, key: String,
                 dimCols: Seq[String], outPath: String,
                 checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.join(
        broadcast(dim.select((key +: dimCols).map(col): _*)),
        Seq(key), "left")
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming exact key-dedup — the continuous face of
    * [[graft.operators.Dedup.distinctRows]] for an at-least-once
    * ingest feed (REST replays, kafka redeliveries): Structured
    * Streaming's `dropDuplicatesWithinWatermark` keeps per-key state
    * only until the event-time watermark passes `delay`, so state is
    * BOUNDED by the duplicate-arrival horizon instead of growing with
    * the corpus — the property that makes exact streaming dedup
    * viable at 100 TB/day (an unbounded `dropDuplicates` state would
    * OOM on day one; the trade, documented by Spark's own contract,
    * is that a duplicate arriving later than `delay` after the
    * original re-emits). First row per key wins; duplicates from the
    * transport are byte-identical replays, so which "first" survives
    * is content-irrelevant. Append parquet + checkpoint = exactly-once
    * on replay.
    */
  def dedupSink(stream: DataFrame, tsCol: String, keyCols: Seq[String],
                delay: String, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  final case class UserEvent(user_id: Long, ts: Timestamp,
                             value: java.math.BigDecimal)
  final case class UserSession(user_id: Long, events: Long,
                               total: java.math.BigDecimal,
                               lastSeen: Timestamp)

  /** Typed running per-user state (custom stateful op the built-in aggs
    * can't express: running totals emitted on every update). The total
    * folds in DECIMAL, not double: the iterator's within-batch order is
    * whatever the shuffle delivered, so a double fold would carry
    * order-dependent low bits and the streamed state could never
    * hash-telescope to the batch GROUP BY (the q188/q192 discipline —
    * every maintained table must equal its from-scratch twin
    * bit-for-bit). Callers quantize inputs once (cast to
    * DECIMAL(18,6)) and the fold is exact and associative from there.
    */
  def userSessions(events: Dataset[UserEvent]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserSession, UserSession](
        GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserSession]) =>
          val prev = state.getOption.getOrElse(
            UserSession(userId, 0L, java.math.BigDecimal.ZERO,
              new Timestamp(0L)))
          val next = batch.foldLeft(prev) { (s, e) =>
            UserSession(userId, s.events + 1,
              s.total.add(e.value),
              if (e.ts.after(s.lastSeen)) e.ts else s.lastSeen)
          }
          state.update(next)
          next
      }
  }
}
