package graft

import java.io.FileNotFoundException
import java.util.WeakHashMap
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DecimalType, LongType, StructType}

/** Parquet table access with a per-session schema catalog, for testdata
  * and lake tables alike, plus cross-engine-deterministic aggregate
  * helpers. */
object Tables {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val InferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** (path, length, modification time) of every file under a table. */
  private type Fingerprint = Seq[(String, Long, Long)]

  /** Per-session schema catalog: parquet path -> (fingerprint, schema).
    * Schemas only, never data. Weak keys: a session's entries go with the
    * session, and a stopped session's are dropped on the next lookup. */
  private val catalog =
    new WeakHashMap[SparkSession, ConcurrentHashMap[String, (Fingerprint, StructType)]]

  /** Read one testdata table (TESTDATA.md layout) with its schema
    * resolved once per session.
    *
    * Timestamp columns must come out as TIMESTAMP (LTZ) — downstream
    * code uses `unix_micros` and friends, and the DuckDB oracle reads
    * the same µs wall-clock values (sessions run UTC, so LTZ and naive
    * agree). Two parquet layouts exist across testdata generations:
    *   - TIMESTAMP(NANOS): no native Spark type — inferred as long
    *     (legacy nanosAsLong) and converted with integer division (the
    *     data has no sub-µs component);
    *   - timestamp[us] with isAdjustedToUTC=false: would infer as
    *     TIMESTAMP_NTZ — inference runs with `inferTimestampNTZ` off so
    *     the SCAN types it as TIMESTAMP directly (keeps predicate
    *     pushdown on the column; a post-hoc cast would not).
    *
    * Both confs apply to schema inference only: it runs on a sibling
    * session that carries them, so no query of the caller's session,
    * later or on another thread, runs under them. Once the schema is
    * given, the scan reads both layouts with the resolved types whatever
    * the session's confs.
    *
    * Inference is a Spark job, so its result is kept per session and
    * path, beside a fingerprint of the table's files: path, length and
    * modification time of each. A Spark write names its files afresh, an
    * in-place rewrite changes a file's length or mtime, and an added or
    * removed file changes the list; any of these makes the schema be
    * inferred again, so changed data is never read with a stale schema.
    * An unchanged table is read with no job before its own scan. A
    * missing table is never cached, and its read fails with Spark's own
    * PATH_NOT_FOUND.
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(s, s"$dir/$name.parquet")
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** Read any parquet path with the catalog's schema: inferred on the
    * path's first read in the session or after its files change, or
    * the one its writer recorded with [[seed]]. The pipeline's lake
    * tables are read this way, so reading the table a stage has just
    * written starts no inference job.
    */
  def read(s: SparkSession, path: String): DataFrame =
    s.read.schema(schema(s, path)).parquet(path)

  /** Record `written`, the schema of a frame just written to `path`, as
    * the path's schema under its current files. A file source reads
    * every column as nullable whatever schema it is given, so a read
    * with it gives the schema an inferred read would. A missing path
    * records nothing.
    */
  private[graft] def seed(s: SparkSession, path: String, written: StructType): Unit =
    fingerprint(s, path).foreach(fp => entries(s).put(path, (fp, written)))

  private def entries(s: SparkSession) = catalog.synchronized {
    catalog.keySet.removeIf(_.sparkContext.isStopped)
    catalog.computeIfAbsent(s, _ => new ConcurrentHashMap)
  }

  /** The catalog's schema for `path`, inferred when the files changed. */
  private def schema(s: SparkSession, path: String): StructType = {
    val known = entries(s)
    fingerprint(s, path) match {
      case None => infer(s, path)
      case Some(fp) =>
        Option(known.get(path)).collect { case (`fp`, schema) => schema }
          .getOrElse {
            val inferred = infer(s, path)
            known.put(path, (fp, inferred))
            inferred
          }
    }
  }

  /** The table's files, or None when the path does not exist. They are
    * listed under the session's Hadoop conf, the context's plus the
    * session's settings, as the scan lists them. */
  private def fingerprint(s: SparkSession, path: String): Option[Fingerprint] = {
    val p = new Path(path)
    val fs = fileSystem(s, path)
    try {
      val files = fs.listFiles(p, true)
      val fp = Seq.newBuilder[(String, Long, Long)]
      while (files.hasNext) {
        val f = files.next()
        fp += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(fp.result().sorted)
    } catch { case _: FileNotFoundException => None }
  }

  /** The file system of `path` under the session's Hadoop conf: the
    * context's plus the session's settings, as the scan resolves it. So
    * a scheme that only the session's settings name resolves for the
    * lake's own listings, swaps and deletes as it does for its reads. */
  private[graft] def fileSystem(s: SparkSession, path: String): FileSystem = {
    val conf = new Configuration(s.sparkContext.hadoopConfiguration)
    s.conf.getAll.foreach { case (k, v) => conf.set(k, v) }
    new Path(path).getFileSystem(conf)
  }

  /** One inference job under the two read confs. It runs on a sibling
    * session that carries every setting of `s` plus the two, so `s`'s
    * own conf is never written: concurrent reads, and queries planned
    * on other threads meanwhile, never see the two confs. Settings a
    * fresh session already has are not set again, and static confs
    * (shared by every session of the context) cannot be; every other
    * key is copied, registered or not, so a Hadoop key such as a file
    * system's reaches the inference as it reaches the scan. */
  private def infer(s: SparkSession, path: String): StructType = {
    val inferring = s.newSession()
    val fresh = inferring.conf.getAll
    s.conf.getAll.foreach { case (k, v) =>
      if (!fresh.get(k).contains(v) && !SQLConf.isStaticConfigKey(k)) inferring.conf.set(k, v)
    }
    inferring.conf.set(NanosAsLong, "true")
    inferring.conf.set(InferNtz, "false")
    inferring.read.parquet(path).schema
  }
}

/** Helpers that keep floating-point aggregates deterministic across
  * engines and partition orderings. A plain `sum(double)` depends on
  * partial-aggregation order (IEEE addition is not associative), so a
  * distributed run can differ from a single-threaded oracle in the last
  * ulp — and from itself run-to-run. Casting each row to DECIMAL first
  * makes the sum exact and order-independent; the final cast back to
  * DOUBLE is a single well-defined conversion. This is also the right
  * call at 100 TB: money sums over 10^12 rows accumulate real error in
  * binary doubles.
  */
object Exprs {
  val Money: DecimalType = DecimalType(18, 6)

  /** Order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Money)).cast("double")

  /** Order-independent mean: exact decimal sum, one double division. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))
}
