package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._

import graft.bronze.Bronze
import graft.silver.Silver
import graft.gold.Gold
import graft.operators.{Quality, Upsert}
import graft.audit.Audit
import graft.maintenance.Retention
import graft.Tables

/** Full-pipeline orchestration (reference scripts/run_pipeline.py:332-405
  * `run_full_pipeline`: ingestion → silver → quality gate → gold →
  * audit; the Airflow DAG runs the same stages,
  * doeecommerce_batch_pipeline.py:258-359).
  *
  * One driver program, four stage functions over date-partitionable
  * parquet layers. The quality gate between silver and gold throws —
  * matching the DAG's hard failure (dag :163-179). "now" is injected
  * for determinism (SURVEY §7.4).
  *
  * A daily batch is small, so its cost is the number of Spark jobs and
  * generated-code classes its plans need, not its rows. Each stage
  * therefore builds as few plans as it can:
  *   - every table write counts its rows with an `Observation` while it
  *     writes, instead of re-reading the table to count it;
  *   - silver and gold tables are read through [[graft.Tables.read]]
  *     with the schema their writer recorded, so no read infers one;
  *   - the quality suite makes one aggregate pass per table;
  *   - an upsert input that its plans reference more than once is
  *     computed once: silver's deduped history into a local checkpoint,
  *     released before the stage returns, and the day aggregate the
  *     three marts slice into a local relation.
  *
  * What is left of such a batch is each plan's fixed driver-side cost:
  * planning, code generation and job dispatch. So each stage submits its
  * independent per-table work concurrently, one thread per table:
  * bronze's appends, silver's transform → checkpoint → upsert → swap
  * bodies, one `Quality.suite` per silver table (the gate then runs once
  * over all of them), gold's mart upserts after the one day-aggregate
  * collect, and each backfill batch's partition overwrites. The plans,
  * paths and outputs are those of a serial run; only the order in which
  * the driver submits the jobs differs. Results keep the input order. A
  * stage waits for every table before it rethrows the first failure in
  * input order, so no table is still being written when `runFull`
  * audits the failure. The thread count is the number of tables a stage
  * has (at most four), so there is no size setting, and the threads go
  * with the call, keeping nothing alive between batches.
  */
object Runner {

  final case class Layout(bronze: String, silver: String, gold: String, audit: String)

  final case class RunReport(runId: String, bronzeCounts: Map[String, Long],
                             silverCounts: Map[String, Long],
                             qualityResults: Seq[Quality.CheckResult],
                             goldCounts: Map[String, Long])

  /** Atomic-ish overwrite: write to a temp sibling, then rename-aside
    * swap ([[graft.maintenance.Retention.swapAside]]). Needed because
    * an upsert reads the live table it is about to replace; the
    * rename-aside discipline (never delete-then-rename) means a crash
    * mid-swap leaves either the live table or a recoverable `.old`
    * copy — there is no window in which the only copy is deleted.
    *
    * Returns the rows written, counted by an `Observation` during the
    * write, and records the written schema in [[graft.Tables]]'
    * catalog under the swapped-in files.
    */
  private[graft] def overwriteSwapped(df: DataFrame, path: String): Long = {
    val tmp = path + ".tmp"
    val written = counted(df)(_.write.mode("overwrite").parquet(tmp))
    Retention.swapAside(Tables.fileSystem(df.sparkSession, tmp),
      new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(path))
    Tables.seed(df.sparkSession, path, df.schema)
    written
  }

  /** The rows `write` writes of `df`, counted by an `Observation` during
    * the write: one pass over the input, not a write plus a second
    * evaluation to count it.
    */
  private def counted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** A staged frame as the bronze layer stores it: the lineage columns,
    * with `ingestedAt` as its ingestion time, and the `ingestionDate`
    * partition column. The raw layer is partitioned by date, so
    * retention and backfill become partition drops and overwrites, and
    * day-grain reads prune at the scan.
    */
  private def stamped(df: DataFrame, source: String, table: String,
                      ingestedAt: Column, ingestionDate: Column): DataFrame =
    Bronze.withIngestMeta(df, source, table, s"${table}_raw", ingestedAt)
      .withColumn("_ingestion_date", ingestionDate)

  /** `body` over `df` computed once into a local checkpoint, whose
    * blocks are released whatever `body` throws. A checkpoint rather
    * than `persist`: it keeps the plan's own coalesced partitions, so a
    * table written from it keeps its file layout, and a plan that reads
    * it twice starts no second cache-materialising job.
    */
  private def materialized[T](df: DataFrame)(body: DataFrame => T): T = {
    val done = df.localCheckpoint()
    try body(done)
    finally done.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = true)
      case _ =>
    }
  }

  /** `body` over every item at once, each on its own thread from a pool
    * made for this call and shut down before it returns. Results come
    * back in input order. Every body runs to its end before the first
    * failure, in input order, is rethrown, so no sibling is still
    * writing into the lake when the caller handles it. The threads are
    * the items, never more than a stage's four tables.
    */
  private def concurrently[A, B](items: Seq[A])(body: A => B): Seq[B] =
    if (items.size <= 1) items.map(body)
    else {
      val pool = Executors.newFixedThreadPool(items.size)
      try {
        val runs = items.map(a => pool.submit(new Callable[Either[Throwable, B]] {
          def call(): Either[Throwable, B] =
            try Right(body(a)) catch { case e: Throwable => Left(e) }
        }))
        runs.map(_.get()).map(_.fold(e => throw e, identity))
      } finally pool.shutdown()
    }

  private def exists(spark: SparkSession, path: String): Boolean =
    Tables.fileSystem(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Stage 1 — bronze: stamp lineage metadata, append to the raw layer
    * (reference run_pipeline.py:135-198 over the three ingestors).
    */
  def stageBronze(spark: SparkSession, staged: Map[String, DataFrame],
                  layout: Layout, source: String, now: Timestamp): Map[String, Long] =
    concurrently(staged.toSeq) { case (table, df) =>
      table -> counted(stamped(df, source, table, lit(now), to_date(lit(now)))) {
        _.write.mode("append").partitionBy("_ingestion_date")
          .parquet(s"${layout.bronze}/${table}_raw")
      }
    }.toMap

  /** Stage 2 — silver: transform each bronze entity and upsert by its
    * PK (reference run_pipeline.py:200-267 + transform_silver.py).
    * The transform dedups all of the bronze history, and the upsert
    * references it twice (anti-join and union), so it is materialised
    * once for the write.
    */
  def stageSilver(spark: SparkSession, layout: Layout): Map[String, Long] =
    concurrently(Silver.tables) { case (table, pk, fn) =>
      val bronzePath = s"${layout.bronze}/${table}_raw"
      if (!exists(spark, bronzePath)) None
      else {
        val silverPath = s"${layout.silver}/$table"
        materialized(fn(Bronze.readLayer(spark, bronzePath))) { fresh =>
          val merged =
            if (exists(spark, silverPath))
              Upsert.merge(Tables.read(spark, silverPath), fresh, Seq(pk))
            else fresh
          Some(table -> overwriteSwapped(merged, silverPath))
        }
      }
    }.flatten.toMap

  /** Stage 3 — quality gate over silver PKs (reference
    * quality_checks.py:52-78; gate semantics from the DAG).
    */
  def stageQuality(spark: SparkSession, layout: Layout): Seq[Quality.CheckResult] = {
    val present = Silver.tables.flatMap { case (table, pk, _) =>
      val p = s"${layout.silver}/$table"
      if (exists(spark, p)) Some(table -> ((Tables.read(spark, p), Seq(pk)))) else None
    }
    val results = concurrently(present)(t => Quality.suite(Map(t))).flatten
    Quality.gate(results)
    results
  }

  /** Stage 4 — gold marts: the reference's three daily KPI marts
    * (publish_gold.py:25-84), each upserted by date with the reference's
    * bookkeeping stamps (db_setup.py:258-262): `created_at` survives
    * re-publish, `updated_at` refreshes on every conflict update.
    * The three marts group carts by the same day, so one aggregate
    * computes the aggregates of all three ([[Gold]]'s definitions),
    * with sales_mart's product count joined on, and each mart selects
    * its columns from it. The aggregate has one row per calendar day,
    * so it is collected once and read back as a local relation: its
    * exact size lets every upsert plan its joins as broadcasts from
    * the start, where a checkpoint's size estimate planned sort-merge
    * joins that adaptive execution only converted after shuffling.
    */
  def stageGold(spark: SparkSession, layout: Layout,
                now: Timestamp): Map[String, Long] = {
    val cartsPath = s"${layout.silver}/carts"
    val productsPath = s"${layout.silver}/products"
    if (!exists(spark, cartsPath)) Map.empty
    else {
      val finance = Gold.revenueAggs("user_id", "total_value")
      val operations = Gold.operationsAggs("discount_percentage")
      val sales = Gold.salesAggs("user_id")
      val products =
        if (exists(spark, productsPath)) Some(Tables.read(spark, productsPath)) else None
      val days = Gold.daily(Tables.read(spark, cartsPath), "last_updated",
        finance ++ operations ++ (if (products.isDefined) sales else Nil))
      val perDay = products.fold(days)(Gold.withProductCount(days, _))
      // one partition, like the coalesced aggregate it stands for, so a
      // mart's new day rows still land in one file
      val local = spark.createDataFrame(perDay.collect().toSeq.asJava, perDay.schema)
        .coalesce(1)
      def mart(names: Seq[String]) = local.select(("event_date" +: names).map(col): _*)
      val marts = Map("finance_mart" -> mart(finance.map(_._1)),
        "operations_mart" -> mart(operations.map(_._1))) ++
        products.map(_ => "sales_mart" -> mart(sales.map(_._1) :+ "product_count"))
      concurrently(marts.toSeq) { case (name, daily) =>
        val martPath = s"${layout.gold}/$name"
        val merged =
          if (exists(spark, martPath))
            Upsert.upsertStamped(Tables.read(spark, martPath), daily, lit(now),
              Seq("event_date"))
          else Upsert.stampNew(daily, lit(now))
        name -> overwriteSwapped(merged, martPath)
      }.toMap
    }
  }

  /** Ranged bronze backfill (reference scripts/backfill.py:198-246
    * `backfill_date_range`): chunk `[start, end)` into
    * `batchSizeDays`-day batches; for each batch, fetch every day's
    * staged frames, stamp them exactly like [[stageBronze]] with that
    * day's ingestion date, and dynamic-partition-overwrite the touched
    * day partitions. The reference's DELETE-range-then-reinsert becomes
    * one idempotent partition overwrite — re-running the same window
    * reproduces the same state, and untouched days are never read or
    * written. Returns re-ingested row counts per table.
    */
  def backfillBronze(spark: SparkSession,
                     fetch: java.time.LocalDate => Map[String, DataFrame],
                     layout: Layout, source: String,
                     start: java.time.LocalDate, end: java.time.LocalDate,
                     batchSizeDays: Int = 1): Map[String, Long] = {
    require(batchSizeDays >= 1, s"batchSizeDays must be >= 1, got $batchSizeDays")
    val days = Iterator.iterate(start)(_.plusDays(1)).takeWhile(_.isBefore(end)).toSeq
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    days.grouped(batchSizeDays).foreach { batch =>
      val perTable = batch
        .flatMap { day =>
          // the date comes from the day itself, not from the start-of-day
          // timestamp: that one is in the JVM's time zone, `to_date` reads
          // it in the session's
          val dayTs = lit(Timestamp.valueOf(day.atStartOfDay))
          fetch(day).map { case (table, df) =>
            table -> stamped(df, source, table, dayTs, to_date(lit(day.toString)))
          }
        }
        .groupBy(_._1)
        .map { case (table, frames) => table -> frames.map(_._2).reduce(_ unionByName _) }
      concurrently(perTable.toSeq) { case (table, df) =>
        table -> counted(df) {
          Retention.overwritePartitions(_, s"${layout.bronze}/${table}_raw", "_ingestion_date")
        }
      }.foreach { case (table, n) => counts(table) += n }
    }
    counts.toMap
  }

  /** Archive stage (reference scripts/cleanup.py:88-135
    * `archive_old_data`: DELETE..RETURNING into `{table}_archive`): move
    * every bronze day partition older than `cutoff` into the archive
    * table with [[graft.maintenance.Retention.archivePartitionsBefore]],
    * one directory rename per day, stamped `_archived_at = now` as a
    * partition. No row is read or rewritten and no Spark job starts; a
    * day already in the archive is replaced, and a re-run after a crash
    * moves the days still live. Returns the archived row count.
    */
  def stageArchive(spark: SparkSession, layout: Layout, table: String,
                   cutoff: java.time.LocalDate, now: Timestamp): Long =
    Retention.archivePartitionsBefore(spark, s"${layout.bronze}/${table}_raw",
      s"${layout.bronze}/${table}_archive", "_ingestion_date", cutoff, now)

  /** Full pipeline: ingestion → silver → quality → gold → audit. */
  def runFull(spark: SparkSession, staged: Map[String, DataFrame],
              layout: Layout, source: String, runId: String,
              now: Timestamp): RunReport = {
    val log = Audit.start(runId, source, "pipeline", now)
    try {
      val bronze = stageBronze(spark, staged, layout, source, now)
      val silver = stageSilver(spark, layout)
      val quality = stageQuality(spark, layout)
      val gold = stageGold(spark, layout, now)
      val fetched = bronze.values.sum
      Audit.append(spark,
        Seq(Audit.complete(log, fetched, fetched, 0L, now)), layout.audit)
      RunReport(runId, bronze, silver, quality, gold)
    } catch {
      case e: Throwable =>
        Audit.append(spark,
          Seq(Audit.fail(log, e.getMessage, now)), layout.audit)
        throw e
    }
  }
}
