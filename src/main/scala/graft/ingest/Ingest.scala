package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

/** Ingestion-side primitives (reference: ingestion/ingestion_util.py and
  * base_generator.py).
  *
  * The reference fetches REST JSON driver-side (APIClient.fetch,
  * ingestion_util.py:179-255, paginated at :257-318) and lands it via
  * pandas to_sql. Spark-first: the fetch stays a driver-side pre-step
  * that stages payloads to files (or an in-memory Dataset), and the
  * cluster-side work starts at `spark.read.json` — schema-on-read with
  * native nested structs, parallel across files.
  */
object Ingest {

  /** S1: scan staged JSON payloads (one file per fetch/page). Multiline
    * JSON so a staged array-of-records file is one unit; Spark
    * parallelizes across files/pages.
    */
  def readStagedJson(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("multiLine", "true").json(paths: _*)

  /** JSON-lines scan with corrupt-record quarantine: PERMISSIVE parse
    * against an explicit schema, malformed lines split off with their
    * raw text instead of failing the batch (real feeds always carry
    * some broken lines; FAILFAST loses the batch, DROPMALFORMED loses
    * the evidence). Returns `(clean, quarantine)` — clean rows carry
    * the schema's columns; quarantine rows carry the single `raw`
    * line for replay/debugging. Both are lazy over the same scan; a
    * caller writing both sides should persist the parsed frame.
    *
    * PERMISSIVE subtlety: a half-valid line (some fields parse, one
    * is type-broken) also lands in quarantine — the corrupt column is
    * non-null whenever ANY field failed, which is the conservative
    * side a pipeline wants.
    */
  def jsonlWithQuarantine(spark: SparkSession, path: String,
                          schema: org.apache.spark.sql.types.StructType)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, from_json}
    require(!schema.fieldNames.contains("__corrupt"),
      "schema must not already contain __corrupt")
    // text scan + from_json, NOT a raw .json() scan: Spark refuses a
    // query that references only the corrupt-record column of a JSON
    // scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN — exactly what the
    // quarantine side is), and the documented cache() workaround pins
    // corpus-sized data. The text route has no such restriction and
    // keeps the raw line around for free.
    val parsed = spark.read.text(path).select(col("value"),
      from_json(col("value"), schema.add("__corrupt", "string"),
        java.util.Map.of("mode", "PERMISSIVE",
          "columnNameOfCorruptRecord", "__corrupt")).as("__r"))
    val clean = parsed.filter(col("__r.__corrupt").isNull)
      .select(schema.fieldNames.map(f => col(s"__r.`$f`").as(f))
        .toIndexedSeq: _*)
    val quarantine = parsed.filter(col("__r.__corrupt").isNotNull)
      .select(col("value").as("raw"))
    (clean, quarantine)
  }

  /** S2: paginated fetch loop — `fetchPage(offset, limit)` until a short
    * page (reference fetch_paginated stop condition,
    * ingestion_util.py:257-318). The page fetcher is any driver-side
    * function (HTTP client, file reader); results concatenate in order.
    */
  def fetchPaginated[A](pageSize: Int, maxPages: Int = 10000)
                       (fetchPage: (Int, Int) => Seq[A]): Seq[A] = {
    val out = Seq.newBuilder[A]
    var offset = 0
    var more = true
    var pages = 0
    while (more && pages < maxPages) {
      val page = fetchPage(offset, pageSize)
      out ++= page
      offset += pageSize
      pages += 1
      more = page.size >= pageSize
    }
    out.result()
  }

  /** S4: retry with exponential backoff (reference retry_with_backoff,
    * ingestion_util.py:109-145: max_retries=3, delay base*factor^n).
    */
  def retryWithBackoff[A](maxRetries: Int = 3, baseDelayMs: Long = 1000,
                          factor: Double = 2.0,
                          sleep: Long => Unit = Thread.sleep)(op: () => A): A = {
    var attempt = 0
    var result: Try[A] = Try(op())
    while (result.isFailure && attempt < maxRetries) {
      sleep((baseDelayMs * math.pow(factor, attempt)).toLong)
      attempt += 1
      result = Try(op())
    }
    result match {
      case Success(a) => a
      case Failure(e) => throw e
    }
  }

  /** S3: parallel multi-source fetch with a required-vs-optional failure
    * policy (reference FakeStoreIngestor._fetch_parallel,
    * fakestore_ingestor.py:273-301: required source failure aborts,
    * optional failures are dropped).
    */
  def fetchParallel[A](sources: Seq[(String, Boolean, () => A)],
                       timeout: Duration = 5.minutes)
                      (implicit ec: ExecutionContext): Map[String, A] = {
    val futures = sources.map { case (name, required, op) =>
      (name, required, Future(Try(op())))
    }
    futures.flatMap { case (name, required, f) =>
      Await.result(f, timeout) match {
        case Success(a) => Some(name -> a)
        case Failure(e) if required =>
          throw new IllegalStateException(s"required source '$name' failed", e)
        case Failure(_) => None
      }
    }.toMap
  }

  /** S7: sized-batch sink — the reference slices frames into chunks
    * (DatabaseWriter.write_batch, ingestion_util.py:511-548); the Spark
    * equivalent is choosing the partition count so each write task
    * lands ~`rowsPerBatch` rows.
    */
  def writeBatched(df: DataFrame, path: String, rowsPerBatch: Long,
                   totalRows: Long, mode: String = "append"): Unit = {
    val parts = math.max(1, math.ceil(totalRows.toDouble / rowsPerBatch).toInt)
    df.repartition(parts).write.mode(mode).parquet(path)
  }
}
