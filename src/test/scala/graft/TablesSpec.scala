package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.Callable
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Replay.withTempRoot

/** `Tables.t` reads each table with a schema resolved once per session
  * and path: the same schema and rows as an inferred read, no Spark job
  * for a table seen before, a fresh inference when the table's files
  * change, and no parquet read conf left on the session.
  */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")
  private val readConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Jobs that `body` starts on `s`'s context. */
  private def jobsOf(s: SparkSession)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    BusDrain(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try { body; BusDrain(s.sparkContext); jobs.get }
    finally s.sparkContext.removeSparkListener(listener)
  }

  test("each testdata table reads like an inferred read under the two confs") {
    val fresh = spark.newSession()
    for (name <- tables) {
      readConfs.zip(Seq("true", "false")).foreach { case (k, v) => fresh.conf.set(k, v) }
      val inferred = fresh.read.parquet(s"$sf/$name.parquet")
      val (schema, expected) = (inferred.schema, rows(inferred))
      readConfs.foreach(fresh.conf.unset)
      val df = Tables.t(fresh, sf, name)
      assert(df.schema == schema, name)
      assert(rows(df) == expected, name)
    }
  }

  test("a second read of an unchanged table starts no Spark job") {
    val fresh = spark.newSession()
    assert(jobsOf(fresh)(Tables.t(fresh, sf, "region")) > 0)
    assert(jobsOf(fresh)(Tables.t(fresh, sf, "region")) == 0)
  }

  test("a rewritten table is read with its new schema") {
    withTempRoot("graft_tables_") { dir =>
      val copy = Paths.get(dir, "region.parquet")
      Files.copy(Paths.get(sf, "region.parquet"), copy)
      val before = Tables.t(spark, dir, "region")
      assert(!before.columns.contains("extra"))
      val wider = Tables.t(spark, sf, "region").withColumn("extra", lit(7))
      Files.delete(copy)
      wider.coalesce(1).write.parquet(copy.toString)
      val after = Tables.t(spark, dir, "region")
      assert(after.columns.toSeq == before.columns.toSeq :+ "extra")
      assert(after.select("extra").distinct().collect().map(_.getInt(0)).toSeq == Seq(7))
    }
  }

  test("a plain session gets TIMESTAMP columns and keeps its conf") {
    val fresh = spark.newSession()
    val before = fresh.conf.getAll
    val events = Tables.t(fresh, sf, "events")
    assert(events.schema("ts").dataType == TimestampType)
    assert(events.filter(expr("ts is not null")).count() > 0)
    assert(fresh.conf.getAll == before)
    readConfs.foreach(k => assert(!fresh.conf.getAll.contains(k), k))
  }

  private val micros = Seq(0L, 1700000000123456L, 1712345678000001L)

  /** Writes `micros` as an `(id, ts)` parquet file whose `ts` is an
    * int64 TIMESTAMP of `unit` (NANOS or MICROS) with isAdjustedToUTC
    * false. */
  private def writeFixture(path: String, unit: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message m { required int64 id; required int64 ts (TIMESTAMP($unit,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(path))
      .withType(schema).withConf(new Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    val scale = if (unit == "NANOS") 1000L else 1L
    try micros.zipWithIndex.foreach { case (us, i) =>
      writer.write(groups.newGroup().append("id", i.toLong).append("ts", us * scale))
    } finally writer.close()
  }

  test("legacy TIMESTAMP(NANOS) reads as TIMESTAMP with the µs values") {
    withTempRoot("graft_tables_") { dir =>
      writeFixture(s"$dir/legacy.parquet", "NANOS")
      for (vectorized <- Seq("true", "false")) {
        val fresh = spark.newSession()
        fresh.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
        val df = Tables.t(fresh, dir, "legacy")
        assert(df.schema("ts").dataType == TimestampType)
        assert(df.schema("id").dataType == LongType)
        val got = df.orderBy("id").select(expr("unix_micros(ts)")).collect().map(_.getLong(0))
        assert(got.toSeq == micros, s"vectorized=$vectorized")
        readConfs.foreach(k => assert(!fresh.conf.getAll.contains(k), k))
      }
    }
  }

  test("concurrent first reads resolve their types and leave the session conf alone") {
    withTempRoot("graft_tables_") { dir =>
      // four NANOS and four NTZ tables, each read for the first time
      val fixtures = (0 until 8).map { i =>
        val unit = if (i % 2 == 0) "NANOS" else "MICROS"
        val path = s"$dir/t$i.parquet"
        writeFixture(path, unit)
        (path, unit)
      }
      val fresh = spark.newSession()
      val before = fresh.conf.getAll
      val start = new java.util.concurrent.CountDownLatch(1)
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val seen = new java.util.concurrent.atomic.AtomicBoolean(false)
      // a query planned on another thread meanwhile sees the session's
      // own conf, never the inference confs
      val watcher = new Thread(() => {
        start.await()
        while (!done.get())
          if (readConfs.exists(fresh.conf.getAll.contains)) seen.set(true)
          else Thread.onSpinWait()
      })
      watcher.start()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(fixtures.size)
      val types = try {
        val reads = fixtures.map { case (path, _) =>
          pool.submit(new Callable[DataType] {
            def call(): DataType = { start.await(); Tables.read(fresh, path).schema("ts").dataType }
          })
        }
        start.countDown()
        reads.map(_.get())
      } finally { pool.shutdown(); done.set(true); watcher.join() }
      fixtures.map(_._2).zip(types).foreach { case (unit, t) =>
        assert(t == (if (unit == "NANOS") LongType else TimestampType), unit)
      }
      assert(!seen.get())
      assert(fresh.conf.getAll == before)
      fixtures.foreach { case (path, _) =>
        val got = Tables.t(fresh, dir, path.stripPrefix(s"$dir/").stripSuffix(".parquet"))
          .orderBy("id").select(expr("unix_micros(ts)")).collect().map(_.getLong(0))
        assert(got.toSeq == micros, path)
      }
    }
  }

  test("a Hadoop setting made only on the session reaches the inference") {
    withTempRoot("graft_tables_") { dir =>
      writeFixture(s"$dir/legacy.parquet", "NANOS")
      // a scheme that only this session's conf resolves, uncached, so no
      // file system instance outlives the conf that named it
      val scheme = "graftlocal"
      val keys = Seq(s"fs.$scheme.impl" -> classOf[SchemeLocalFs].getName,
        s"fs.$scheme.impl.disable.cache" -> "true")
      keys.foreach { case (k, _) => assert(spark.sparkContext.hadoopConfiguration.get(k) == null) }
      val fresh = spark.newSession()
      keys.foreach { case (k, v) => fresh.conf.set(k, v) }
      val df = Tables.t(fresh, s"$scheme://$dir", "legacy")
      assert(df.schema("ts").dataType == TimestampType)
      val got = df.orderBy("id").select(expr("unix_micros(ts)")).collect().map(_.getLong(0))
      assert(got.toSeq == micros)
    }
  }

  test("a missing table fails with Spark's PATH_NOT_FOUND naming the path") {
    val e = intercept[AnalysisException](Tables.t(spark, sf, "no_such_table"))
    assert(e.getCondition == "PATH_NOT_FOUND")
    assert(e.getMessage.contains(s"$sf/no_such_table.parquet"))
  }
}

/** The local file system under the scheme `graftlocal`: a path of that
  * scheme resolves only under a conf whose `fs.graftlocal.impl` names
  * this class. */
class SchemeLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftlocal:///")
  // the local statuses look their permissions up through a file: URI
  private def plain(st: FileStatus): FileStatus = new FileStatus(st.getLen, st.isDirectory,
    st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(plain)
}
