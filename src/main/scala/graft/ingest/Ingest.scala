package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.{Failure, Success, Try}

/** Ingestion-side primitives (reference: ingestion/ingestion_util.py and
  * base_generator.py).
  *
  * The reference fetches REST JSON driver-side (APIClient.fetch,
  * ingestion_util.py:179-255, paginated at :257-318) and lands it via
  * pandas to_sql. Here the paginated fetch is the `graft-rest` source
  * ([[graft.sources.RestPages]]), whose partitions retry through
  * [[retryWithBackoff]], and the pipeline itself starts from staged
  * frames (`pipeline.Runner.stageBronze`).
  */
object Ingest {

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
}
