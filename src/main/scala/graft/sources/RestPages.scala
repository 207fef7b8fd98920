package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** How a partition obtains one page's payload (a JSON array of records
  * or JSON-lines). Implementations must be constructible by a no-arg
  * reflection call on the EXECUTOR (the option carries only the class
  * name) and must be thread-safe across tasks. The default
  * [[UrlFetcher]] opens the URL with the JDK handler stack — http(s)
  * in deployment, file:// in tests.
  */
trait PageFetcher extends Serializable {
  def fetch(url: String): String
}

/** Default fetcher: `java.net.URL.openStream` (UTF-8). */
class UrlFetcher extends PageFetcher {
  override def fetch(url: String): String = {
    val in = new java.net.URI(url).toURL.openStream()
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
}

/** Paginated-REST batch source, DataSourceV2 — the Spark-native form
  * of the reference's driver-side pagination loop (reference
  * fetch_paginated, ingestion_util.py:257-318, which GETs pages
  * sequentially on one machine): here every page range is an
  * InputPartition, so N pages download and parse as N parallel tasks
  * on the executors, with per-partition retry/backoff — the shape a
  * 1000-executor ingest actually wants.
  *
  * ```
  * spark.read.format("graft-rest")
  *   .option("url", "https://api.example.com/items?offset={offset}&limit={limit}")
  *   .option("pageSize", "100").option("maxPages", "50")
  *   .load()
  * ```
  *
  * Options:
  *  - `url` (required): template; `{offset}`, `{limit}`, `{page}` are
  *    substituted per partition.
  *  - `maxPages` (required): the partition count — an UPPER BOUND on
  *    pages. Spark's planning is static, so the sequential
  *    stop-on-short-page condition has no distributed equivalent;
  *    past-the-end pages should return an empty payload (`[]` — the
  *    REST convention) and cost one cheap GET each. A 404-style
  *    failure past the end is NOT treated as empty unless
  *    `missingPageIsEmpty=true` — silently equating errors with
  *    end-of-data would also swallow a mid-range outage.
  *  - `pageSize` (default 100): substituted into `{limit}`/`{offset}`.
  *  - `responseKey` (optional): envelope extraction for APIs that wrap
  *    the page in a dict — DummyJSON really ships
  *    `{"products": [...], "total": n, "skip": k}` (the reference's
  *    `response_key`, ingestion_util.py:286-293). When set, the page
  *    payload must be a JSON OBJECT and the named field is extracted
  *    before the record parse; a missing field or a non-object payload
  *    fails the task loudly (the reference raises its
  *    DataValidationError for the same shapes — silently parsing the
  *    envelope as one struct row is the bug this option closes). The
  *    past-the-end contract becomes `{"<key>": []}`; a bare `[]` is
  *    also accepted as empty.
  *  - `fetcher` (default [[UrlFetcher]]): [[PageFetcher]] class name.
  *  - `retries` (default 3), `retryDelayMs` (default 1000): per-page
  *    exponential backoff via
  *    [[graft.ingest.Ingest.retryWithBackoff]], executed ON the
  *    partition's task — a flaky page retries alone, not the batch.
  *
  * Schema: from `.schema(...)` when given; otherwise inferred by
  * fetching page 0 on the driver and running Spark's JSON inference
  * over it. Column pruning is pushed into the parser (the required
  * schema IS the parse schema — unreferenced fields are never
  * materialized). Malformed payloads fail the task loudly with the
  * page URL in the message; quarantine-grade feeds go through
  * [[graft.ingest.Ingest.jsonlWithQuarantine]] instead.
  */
class RestPages extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-rest"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = RestPages.parse(options)
    val spark = SparkSession.active
    val sample = RestPages.fetchPage(opts, 0)
    import spark.implicits._
    val df = spark.read.json(spark.createDataset(Seq(sample)))
    // an empty first page infers an empty struct — fail with guidance
    // rather than returning a zero-column table
    require(df.schema.nonEmpty,
      s"could not infer a schema from page 0 (${RestPages.render(opts, 0)})" +
        " — pass an explicit .schema(...)")
    df.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new RestTable(schema,
      RestPages.parse(new CaseInsensitiveStringMap(properties)))
}

private[sources] final case class RestOptions(urlTemplate: String,
                                              pageSize: Int, maxPages: Int,
                                              fetcherClass: String,
                                              retries: Int,
                                              retryDelayMs: Long,
                                              missingPageIsEmpty: Boolean,
                                              responseKey: Option[String])

private[sources] object RestPages {

  def parse(options: CaseInsensitiveStringMap): RestOptions = {
    val url = options.get("url")
    require(url != null && url.nonEmpty, "graft-rest needs option 'url'")
    val maxPages = options.getInt("maxPages", -1)
    require(maxPages >= 1, "graft-rest needs option 'maxPages' >= 1")
    RestOptions(url,
      pageSize = options.getInt("pageSize", 100),
      maxPages = maxPages,
      fetcherClass = options.getOrDefault("fetcher",
        classOf[UrlFetcher].getName),
      retries = options.getInt("retries", 3),
      retryDelayMs = options.getLong("retryDelayMs", 1000L),
      missingPageIsEmpty = options.getBoolean("missingPageIsEmpty", false),
      responseKey = Option(options.get("responseKey")).filter(_.nonEmpty))
  }

  def render(opts: RestOptions, page: Int): String =
    opts.urlTemplate
      .replace("{offset}", (page.toLong * opts.pageSize).toString)
      .replace("{limit}", opts.pageSize.toString)
      .replace("{page}", page.toString)

  /** One page's payload, with per-call retry/backoff and (when
    * `responseKey` is set) envelope extraction.
    */
  def fetchPage(opts: RestOptions, page: Int): String = {
    val fetcher = Class.forName(opts.fetcherClass)
      .getDeclaredConstructor().newInstance().asInstanceOf[PageFetcher]
    val url = render(opts, page)
    val raw =
      try graft.ingest.Ingest.retryWithBackoff(opts.retries,
        opts.retryDelayMs)(() => fetcher.fetch(url))
      catch {
        case e: java.io.FileNotFoundException if opts.missingPageIsEmpty =>
          return "[]"
        case scala.util.control.NonFatal(e) =>
          throw new IllegalStateException(
            s"graft-rest: page $page ($url) failed after " +
              s"${opts.retries} retries", e)
      }
    unwrap(raw, opts, page, url)
  }

  /** `responseKey` extraction: the named field of a dict-shaped page,
    * re-serialized for the record parser. Validation is LOUD by
    * contract — a wrapped page silently parsing as one envelope row is
    * the failure mode this exists to kill; empty payloads (`[]`, the
    * missing-page sentinel, or whitespace) pass through as-is.
    */
  private def unwrap(payload: String, opts: RestOptions, page: Int,
                     url: String): String = opts.responseKey match {
    case None => payload
    case Some(key) =>
      val trimmed = payload.trim
      if (trimmed.isEmpty || trimmed == "[]") trimmed
      else {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val node =
          try mapper.readTree(payload)
          catch {
            case scala.util.control.NonFatal(e) =>
              throw new IllegalStateException(
                s"graft-rest: page $page ($url) is not valid JSON " +
                  s"(responseKey='$key' extraction)", e)
          }
        if (!node.isObject)
          throw new IllegalStateException(
            s"graft-rest: page $page ($url): responseKey='$key' expects " +
              s"an object envelope, got ${node.getNodeType}")
        val sub = node.get(key)
        if (sub == null) {
          val fields = {
            val it = node.fieldNames()
            val b = Seq.newBuilder[String]
            while (it.hasNext) b += it.next()
            b.result().mkString(", ")
          }
          throw new IllegalStateException(
            s"graft-rest: page $page ($url): envelope has no field " +
              s"'$key' (fields: $fields)")
        }
        mapper.writeValueAsString(sub)
      }
  }
}

private final class RestTable(tableSchema: StructType, opts: RestOptions)
    extends Table with SupportsRead {
  override def name(): String = s"graft-rest(${opts.urlTemplate})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new RestScanBuilder(tableSchema, opts)
}

/** Column pruning lands HERE: the pruned schema becomes the Jackson
  * parse schema, so unselected fields are skipped at tokenizer level —
  * the JSON-source analogue of parquet's ReadSchema pruning.
  */
private final class RestScanBuilder(full: StructType, opts: RestOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new RestScan(required, opts)
}

private final class RestScan(schema: StructType, opts: RestOptions)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-rest ${opts.urlTemplate} pages=${opts.maxPages} " +
      s"ReadSchema: ${schema.simpleString}"
  override def planInputPartitions(): Array[InputPartition] =
    Array.tabulate(opts.maxPages)(p => RestPagePartition(p))
  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory(schema, opts)
}

private final case class RestPagePartition(page: Int) extends InputPartition

private final class RestReaderFactory(schema: StructType,
                                      opts: RestOptions)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new RestPageReader(schema, opts,
      partition.asInstanceOf[RestPagePartition].page)
}

private final class RestPageReader(schema: StructType, opts: RestOptions,
                                   page: Int)
    extends PartitionReader[InternalRow] {
  private lazy val rows: Iterator[InternalRow] = {
    val payload = RestPages.fetchPage(opts, page)
    if (payload.trim.isEmpty) Iterator.empty
    else {
      val jsonOptions = new JSONOptions(
        Map.empty[String, String], "UTC", "")
      val parser = new JacksonParser(schema, jsonOptions,
        allowArrayAsStructs = true, Nil)
      try parser.parse[String](payload, CreateJacksonParser.string,
        UTF8String.fromString).iterator
      catch {
        case scala.util.control.NonFatal(e) =>
          throw new IllegalStateException(
            s"graft-rest: page $page (${RestPages.render(opts, page)}) " +
              "returned a payload the schema cannot parse", e)
      }
    }
  }
  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
