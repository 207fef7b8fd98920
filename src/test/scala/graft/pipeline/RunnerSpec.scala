package graft.pipeline

import java.net.URI
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Cached
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DateType, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}
import graft.audit.Audit

class RunnerSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def layout() = {
    val root = java.nio.file.Files.createTempDirectory("pipeline").toString
    Runner.Layout(s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/audit")
  }

  private def staged(suffix: String) = Map(
    "products" -> Seq((1, s"Widget $suffix", 9.99, "tools"), (2, s"Gadget $suffix", 0.0, "toys"))
      .toDF("id", "title", "price", "category"),
    "carts" -> Seq((10, 100, 200.0, 150.0), (11, 101, 80.0, 80.0))
      .toDF("id", "userId", "total", "discountedTotal"),
    "users" -> Seq((100, "a@x.com", "Ada", "L"), (101, "b@y.org", "Bob", "M"))
      .toDF("id", "email", "firstname", "lastname"),
    "orders" -> Seq((1000, 100, 200.0, Some(180.0)))
      .toDF("id", "userId", "total_amount", "final_amount"))

  /** Jobs that `body` starts, counted after the listener bus drains. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; BusDrain(spark.sparkContext); jobs.get }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `body` and asserts that it leaves no persisted or
    * checkpointed RDD block and no cached plan behind. */
  private def leavesNoCache[T](body: => T): T = {
    val blocks = Cached.rddBlocks(spark)
    val plans = Cached.plans(spark)
    try body
    finally {
      assert((Cached.rddBlocks(spark) -- blocks).isEmpty)
      assert(Cached.plans(spark) == plans)
    }
  }

  test("runFull: bronze -> silver -> quality -> gold -> audit, idempotent upserts") {
    val lay = layout()
    val r1 = Runner.runFull(spark, staged("v1"), lay, "test_api", "run1",
      ts("2024-01-01 12:00:00"))
    assert(r1.bronzeCounts == Map("products" -> 2, "carts" -> 2, "users" -> 2, "orders" -> 1))
    assert(r1.silverCounts("products") == 2)
    assert(r1.qualityResults.forall(_.passed))
    assert(r1.goldCounts("finance_mart") == 1) // one day
    assert(r1.goldCounts("sales_mart") == 1)
    assert(r1.goldCounts("operations_mart") == 1)

    // second run: same keys, later ingestion -> silver replaced not duplicated
    val r2 = Runner.runFull(spark, staged("v2"), lay, "test_api", "run2",
      ts("2024-01-02 12:00:00"))
    assert(r2.silverCounts("products") == 2) // upsert, no growth
    val titles = spark.read.parquet(s"${lay.silver}/products")
      .select("title").as[String].collect().toSet
    assert(titles == Set("Widget v2", "Gadget v2")) // latest won
    assert(r2.goldCounts("finance_mart") == 2) // both days present
    assert(r2.goldCounts("sales_mart") == 2)
    val ops = spark.read.parquet(s"${lay.gold}/operations_mart")
      .orderBy("event_date").collect()
    assert(ops.length == 2)
    assert(ops.forall(_.getAs[Double]("avg_discount_percentage") >= 0.0))

    // third run, same calendar day as run 2: the day-2 mart row is a
    // conflict update -> created_at survives, updated_at refreshes
    Runner.runFull(spark, staged("v3"), lay, "test_api", "run3",
      ts("2024-01-02 18:00:00"))
    val fin = spark.read.parquet(s"${lay.gold}/finance_mart")
      .orderBy("event_date").collect()
    assert(fin.length == 2)
    val day2 = fin(1)
    assert(day2.getAs[Timestamp]("created_at") == ts("2024-01-02 12:00:00"))
    assert(day2.getAs[Timestamp]("updated_at") == ts("2024-01-02 18:00:00"))
    val day1 = fin(0)
    assert(day1.getAs[Timestamp]("created_at") == ts("2024-01-01 12:00:00"))
    assert(day1.getAs[Timestamp]("updated_at") == ts("2024-01-01 12:00:00"))

    val audit = Audit.read(spark, lay.audit).collect()
    assert(audit.length == 3 && audit.forall(_.status == "success"))
  }

  test("a second-day runFull starts at most 56 jobs and leaves nothing cached") {
    val lay = layout()
    leavesNoCache(Runner.runFull(spark, staged("v1"), lay, "test_api", "run1",
      ts("2024-01-01 12:00:00")))
    val jobs = jobsOf(leavesNoCache(Runner.runFull(spark, staged("v2"), lay,
      "test_api", "run2", ts("2024-01-02 12:00:00"))))
    assert(jobs <= 56, s"$jobs jobs")
  }

  /** A table's rows as strings, sorted, with its columns in name order. */
  private def rowsOf(path: String): Seq[String] = {
    val df = spark.read.parquet(path)
    df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .collect().map(_.mkString("|")).toSeq.sorted
  }

  test("a two-day runFull leaves the expected silver and gold rows") {
    val lay = layout()
    Runner.runFull(spark, staged("v1"), lay, "test_api", "run1", ts("2024-01-01 12:00:00"))
    Runner.runFull(spark, staged("v2"), lay, "test_api", "run2", ts("2024-01-02 12:00:00"))
    val day2 = "2024-01-02 12:00:00.0"
    val expected = Map(
      s"${lay.silver}/products" -> Seq(
        s"tools|true|$day2|9.99|1|Widget v2", s"toys|false|$day2|0.0|2|Gadget v2"),
      s"${lay.silver}/carts" -> Seq(
        s"10|25.0|$day2|200.0|100", s"11|0.0|$day2|80.0|101"),
      s"${lay.silver}/users" -> Seq(
        s"a@x.com|Ada L|$day2|100", s"b@y.org|Bob M|$day2|101"),
      s"${lay.silver}/orders" -> Seq(s"180.0|$day2|1000|200.0|100"),
      s"${lay.gold}/finance_mart" -> Seq(
        "140.0|2024-01-01 12:00:00.0|2024-01-01|2|280.0|2|2024-01-01 12:00:00.0",
        s"140.0|$day2|2024-01-02|2|280.0|2|$day2"),
      s"${lay.gold}/operations_mart" -> Seq(
        "12.5|2|2024-01-01 12:00:00.0|2024-01-01|2024-01-01 12:00:00.0",
        s"12.5|2|$day2|2024-01-02|$day2"),
      s"${lay.gold}/sales_mart" -> Seq(
        "2024-01-01 12:00:00.0|2|2024-01-01|2|2|2024-01-01 12:00:00.0",
        s"$day2|2|2024-01-02|2|2|$day2"))
    for ((path, rows) <- expected) assert(rowsOf(path) == rows, path)
  }

  test("a failing silver table fails runFull only after its siblings are written") {
    val lay = layout()
    // products lacks the price column its silver transform selects, so
    // its body fails at analysis, before its siblings' jobs are done
    val broken = staged("v1") + ("products" -> Seq((1, "Widget", "tools"))
      .toDF("id", "title", "category"))
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      leavesNoCache(Runner.runFull(spark, broken, lay, "test_api", "runX",
        ts("2024-01-01 12:00:00")))
    }
    assert(ex.getMessage.contains("price"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(lay.silver), spark.sparkContext.hadoopConfiguration)
    for (table <- Seq("carts", "users", "orders")) {
      val path = new org.apache.hadoop.fs.Path(s"${lay.silver}/$table")
      assert(fs.exists(path), table)
      assert(!fs.exists(path.suffix(".tmp")), table)
      assert(spark.read.parquet(path.toString).count() > 0, table)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${lay.silver}/products")))
    assert(!new java.io.File(s"${lay.gold}/finance_mart").exists())
    val audit = Audit.read(spark, lay.audit).collect()
    assert(audit.length == 1 && audit.head.status == "failed")
    assert(audit.head.errorMessage.contains(ex.getMessage))
  }

  test("lake tables are read with the schema their writer recorded") {
    val lay = layout()
    val readConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled")
    Runner.runFull(spark, staged("v1"), lay, "test_api", "run1", ts("2024-01-01 12:00:00"))
    Runner.runFull(spark, staged("v2"), lay, "test_api", "run2", ts("2024-01-02 12:00:00"))
    val paths = Seq("products", "carts", "users", "orders").map(t => s"${lay.silver}/$t") ++
      Seq("finance_mart", "sales_mart", "operations_mart").map(m => s"${lay.gold}/$m")
    for (path <- paths) {
      assert(jobsOf(Tables.read(spark, path)) == 0, path)
      assert(Tables.read(spark, path).schema == spark.read.parquet(path).schema, path)
    }
    assert(Tables.read(spark, s"${lay.silver}/carts").schema("last_updated").dataType
      == TimestampType)
    val fin = Tables.read(spark, s"${lay.gold}/finance_mart").schema
    assert(fin("event_date").dataType == DateType)
    assert(fin("created_at").dataType == TimestampType)
    readConfs.foreach(k => assert(!spark.conf.getAll.contains(k), k))

    // a silver table overwritten behind the catalog's back is re-inferred
    val products = s"${lay.silver}/products"
    spark.read.parquet(products).withColumn("extra", lit(1))
      .write.mode("overwrite").parquet(products + ".new")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(products), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(products), true)
    fs.rename(new org.apache.hadoop.fs.Path(products + ".new"),
      new org.apache.hadoop.fs.Path(products))
    val reread = Tables.read(spark, products)
    assert(reread.columns.last == "extra")
    assert(reread.schema == spark.read.parquet(products).schema)
    assert(reread.count() == 2)
    readConfs.foreach(k => assert(!spark.conf.getAll.contains(k), k))
  }

  test("backfillBronze re-ingests day batches idempotently via partition overwrite") {
    val lay = layout()
    val day1 = java.time.LocalDate.parse("2024-01-01")
    val day4 = java.time.LocalDate.parse("2024-01-04")
    def fetch(tag: String)(day: java.time.LocalDate): Map[String, DataFrame] = Map(
      "products" -> Seq(
        (day.getDayOfMonth, s"Item $tag ${day.getDayOfMonth}", 1.0, "c"),
        (100 + day.getDayOfMonth, s"Other $tag", 2.0, "c"))
        .toDF("id", "title", "price", "category"))

    val c1 = Runner.backfillBronze(spark, fetch("v1"), lay, "test_api", day1, day4,
      batchSizeDays = 2)
    assert(c1 == Map("products" -> 6)) // 3 days x 2 rows
    val live = spark.read.parquet(s"${lay.bronze}/products_raw")
    assert(live.count() == 6)
    assert(live.select("_ingestion_date").distinct().count() == 3)

    // re-run a sub-window with new data: only those days replaced
    val c2 = Runner.backfillBronze(spark, fetch("v2"), lay, "test_api", day1,
      day1.plusDays(1))
    assert(c2 == Map("products" -> 2))
    val titles = spark.read.parquet(s"${lay.bronze}/products_raw")
      .select("title").as[String].collect()
    assert(titles.count(_.startsWith("Item v2")) == 1)   // day 1 replaced
    assert(titles.count(_.startsWith("Item v1")) == 2)   // days 2,3 untouched
    assert(titles.length == 6)                           // no growth

    // same window + same data twice = same state
    Runner.backfillBronze(spark, fetch("v2"), lay, "test_api", day1, day1.plusDays(1))
    assert(spark.read.parquet(s"${lay.bronze}/products_raw").count() == 6)
  }

  /** One `orders` row a day, id `10 × day of month`, its amounts `amount`. */
  private def ordersOn(amount: Double)(day: java.time.LocalDate): Map[String, DataFrame] = Map(
    "orders" -> Seq((day.getDayOfMonth * 10, 100, amount, Some(amount)))
      .toDF("id", "userId", "total_amount", "final_amount"))

  private val day1 = java.time.LocalDate.parse("2024-01-01")

  test("stageArchive moves old partitions to the archive table, idempotently") {
    val lay = layout()
    Runner.backfillBronze(spark, ordersOn(5.0), lay, "test_api", day1, day1.plusDays(3))
    val bronzeColumns = spark.read.parquet(s"${lay.bronze}/orders_raw").columns.toSet

    val cutoff = java.time.LocalDate.parse("2024-01-03")
    var archived = -1L
    assert(jobsOf {
      archived = Runner.stageArchive(spark, lay, "orders", cutoff, ts("2024-02-01 00:00:00"))
    } == 0)
    assert(archived == 2) // days 1 and 2 moved
    val live = spark.read.parquet(s"${lay.bronze}/orders_raw")
    assert(live.count() == 1)
    assert(live.select("_ingestion_date").as[java.sql.Date].collect()
      .forall(_.toString == "2024-01-03"))
    val arch = spark.read.parquet(s"${lay.bronze}/orders_archive")
    assert(arch.count() == archived)
    assert(arch.columns.toSet == bronzeColumns + "_archived_at")
    assert(arch.schema("_archived_at").dataType == TimestampType)

    // re-run: nothing left to move, archive unchanged
    val again = Runner.stageArchive(spark, lay, "orders", cutoff,
      ts("2024-02-02 00:00:00"))
    assert(again == 0)
    assert(spark.read.parquet(s"${lay.bronze}/orders_archive").count() == 2)
    assert(spark.read.parquet(s"${lay.bronze}/orders_raw").count() == 1)
  }

  test("stageArchive stamps _archived_at as Spark's partitioned writer writes now") {
    val lay = layout()
    Runner.backfillBronze(spark, ordersOn(5.0), lay, "test_api", day1, day1.plusDays(2))
    val zoned = spark.newSession()
    zoned.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    val now = ts("2024-02-01 10:15:30.123456")
    assert(Runner.stageArchive(zoned, lay, "orders", day1.plusDays(1), now) == 1)
    val archive = s"${lay.bronze}/orders_archive"
    // Spark infers a partition timestamp with at most one fractional
    // digit (`yyyy-MM-dd HH:mm:ss[.S]`), so this one is read as a string
    // unless the schema names its type, as for any table Spark partitions
    // by such a timestamp
    val inferred = zoned.read.parquet(archive).schema
    val typed = StructType(inferred.map(f =>
      if (f.name == "_archived_at") f.copy(dataType = TimestampType) else f))
    assert(zoned.read.schema(typed).parquet(archive).select("_archived_at").as[Timestamp]
      .collect().toSeq == Seq(now))

    val written = java.nio.file.Files.createTempDirectory("stamp").toString + "/t"
    zoned.range(1).withColumn("_archived_at", lit(now))
      .write.partitionBy("_archived_at").parquet(written)
    def dirs(p: String) = new java.io.File(p).list().filter(_.startsWith("_archived_at=")).toSeq
    assert(dirs(s"$archive/_ingestion_date=2024-01-01") == dirs(written))
  }

  test("re-archiving a day a backfill re-ingested replaces its archive partition") {
    val lay = layout()
    val cutoff = day1.plusDays(2)
    Runner.backfillBronze(spark, ordersOn(5.0), lay, "test_api", day1, day1.plusDays(3))
    assert(Runner.stageArchive(spark, lay, "orders", cutoff, ts("2024-02-01 00:00:00")) == 2)
    Runner.backfillBronze(spark, ordersOn(7.0), lay, "test_api", day1, day1.plusDays(1))
    assert(Runner.stageArchive(spark, lay, "orders", cutoff, ts("2024-02-02 00:00:00")) == 1)
    val arch = spark.read.parquet(s"${lay.bronze}/orders_archive")
      .select("id", "total_amount", "_archived_at").as[(Int, Double, Timestamp)]
      .collect().sortBy(_._1).toSeq
    assert(arch == Seq((10, 7.0, ts("2024-02-02 00:00:00")),
      (20, 5.0, ts("2024-02-01 00:00:00"))))
    assert(spark.read.parquet(s"${lay.bronze}/orders_raw").select("id").as[Int]
      .collect().toSeq == Seq(30))
  }

  test("an archive that fails between two day moves leaves every row once; a re-run ends it") {
    val plain = layout()
    Runner.backfillBronze(spark, ordersOn(5.0), plain, "test_api", day1, day1.plusDays(3))
    val scheme = "graftfault"
    val faulty = spark.newSession()
    faulty.conf.set(s"fs.$scheme.impl", classOf[RenameFaultFs].getName)
    faulty.conf.set(s"fs.$scheme.impl.disable.cache", "true")
    val lay = plain.copy(bronze = s"$scheme://${plain.bronze}")
    def ids(table: String) = spark.read.parquet(s"${plain.bronze}/orders_$table")
      .select("id").as[Int].collect().toSeq.sorted
    val cutoff = day1.plusDays(2)
    RenameFaultFs.renames.set(0)
    RenameFaultFs.failOn = 2
    try {
      intercept[java.io.IOException](
        Runner.stageArchive(faulty, lay, "orders", cutoff, ts("2024-02-01 00:00:00")))
    } finally RenameFaultFs.failOn = 0
    assert(ids("archive").size == 1)
    assert((ids("raw") ++ ids("archive")).sorted == Seq(10, 20, 30))
    assert(Runner.stageArchive(faulty, lay, "orders", cutoff, ts("2024-02-01 00:00:00")) == 1)
    assert(ids("raw") == Seq(30) && ids("archive") == Seq(10, 20))
  }

  test("stageBronze and backfillBronze stamp lineage columns and the ingestion date") {
    val lay = layout()
    val now = ts("2024-01-05 12:00:00")
    Runner.stageBronze(spark, staged("v1").filter(_._1 == "products"), lay, "test_api", now)
    val stamps = spark.read.parquet(s"${lay.bronze}/products_raw")
      .select("_ingestion_date", "_ingestion_timestamp", "_source_name", "_endpoint",
        "_table_name")
      .collect().map(r => (r.getDate(0).toString, r.getTimestamp(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    assert(stamps == Set(("2024-01-05", now, "test_api", "products", "products_raw")))

    Runner.backfillBronze(spark, ordersOn(5.0), lay, "test_api", day1, day1.plusDays(3))
    val days = spark.read.parquet(s"${lay.bronze}/orders_raw")
      .select("_ingestion_date", "_ingestion_timestamp")
      .collect().map(r => (r.getDate(0).toString, r.getTimestamp(1))).toSeq
    assert(days.map(_._1).toSet == Set("2024-01-01", "2024-01-02", "2024-01-03"))
    days.foreach { case (day, at) =>
      assert(at == Timestamp.valueOf(java.time.LocalDate.parse(day).atStartOfDay), day)
    }
  }

  test("a lake under a scheme only the session resolves runs end to end") {
    // graft.SchemeLocalFs: the local file system under `graftlocal`,
    // uncached, named only on this session's conf
    val scheme = "graftlocal"
    val fresh = spark.newSession()
    fresh.conf.set(s"fs.$scheme.impl", classOf[graft.SchemeLocalFs].getName)
    fresh.conf.set(s"fs.$scheme.impl.disable.cache", "true")
    val plain = layout()
    val lay = Runner.Layout(s"$scheme://${plain.bronze}", s"$scheme://${plain.silver}",
      s"$scheme://${plain.gold}", s"$scheme://${plain.audit}")
    def inFresh(suffix: String) = staged(suffix).map { case (table, df) =>
      table -> fresh.createDataFrame(df.collectAsList(), df.schema)
    }
    Runner.runFull(fresh, inFresh("v1"), lay, "test_api", "run1", ts("2024-01-01 12:00:00"))
    val r2 = Runner.runFull(fresh, inFresh("v2"), lay, "test_api", "run2",
      ts("2024-01-02 12:00:00"))
    assert(r2.silverCounts == Map("products" -> 2, "carts" -> 2, "users" -> 2, "orders" -> 1))
    assert(r2.goldCounts("finance_mart") == 2)
    assert(graft.maintenance.Retention.compact(fresh, s"${lay.silver}/products")._2 == 1L)

    val archived = Runner.stageArchive(fresh, lay, "orders",
      java.time.LocalDate.parse("2024-01-02"), ts("2024-02-01 00:00:00"))
    assert(archived == 1)
    assert(fresh.read.parquet(s"${lay.bronze}/orders_raw").count() == 1)
    assert(fresh.read.parquet(s"${lay.bronze}/orders_archive").count() == 1)
    assert(Audit.read(fresh, lay.audit).collect().map(_.status).toSeq == Seq("success", "success"))
  }

  test("quality gate failure aborts before gold and audits the failure") {
    val lay = layout()
    // a null email survives the silver transform (duplicates would
    // collapse under the email-keyed dedup) and trips the PK null check
    val withNull = staged("v1") + ("users" -> Seq(
      (Some(100), None: Option[String], "Ada", "L"))
      .toDF("id", "email", "firstname", "lastname"))
    val ex = intercept[IllegalStateException] {
      leavesNoCache(Runner.runFull(spark, withNull, lay, "test_api", "runX",
        ts("2024-01-01 12:00:00")))
    }
    assert(ex.getMessage.contains("quality gate failed"))
    assert(!new java.io.File(s"${lay.gold}/finance_mart").exists())
    val audit = Audit.read(spark, lay.audit).collect()
    assert(audit.length == 1 && audit.head.status == "failed")
  }
}

/** [[graft.SchemeLocalFs]] under the scheme `graftfault`, whose rename
  * number `failOn`, counted over every instance, throws. */
class RenameFaultFs extends graft.SchemeLocalFs {
  override def getUri: URI = URI.create("graftfault:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (RenameFaultFs.renames.incrementAndGet() == RenameFaultFs.failOn)
      throw new java.io.IOException(s"injected failure renaming $src")
    else super.rename(src, dst)
}

object RenameFaultFs {
  val renames = new AtomicInteger
  @volatile var failOn = 0
}
