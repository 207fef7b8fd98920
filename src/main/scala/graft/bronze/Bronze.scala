package graft.bronze

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze-layer ingestion shaping (reference: the ingestion package).
  *
  * The reference lands raw API JSON into per-source tables after
  * flattening nested payloads (randomuser_ingestor.py:387-443,
  * fakestore_ingestor.py:384-408), stamping lineage metadata columns
  * (base_generator.py:163-164), unioning multi-endpoint record lists
  * (dummyjson_ingestor.py:305-343) and writing with replace/append
  * semantics (ingestion_util.py:443-509; here `Runner.stageBronze`'s
  * date-partitioned append). Spark-first: nested fields
  * stay native structs or JSON strings read in place, and schema drift
  * is mergeSchema on read + unionByName on write.
  */
object Bronze {

  /** Lineage metadata columns (reference base_generator.py:163-164,
    * dummyjson_ingestor.py:549-552): constant-folded literals, free at
    * any scale.
    */
  def withIngestMeta(df: DataFrame, source: String, endpoint: String,
                     table: String, ingestionTs: Column): DataFrame =
    df.withColumn("_ingestion_timestamp", ingestionTs)
      .withColumn("_source_name", lit(source))
      .withColumn("_endpoint", lit(endpoint))
      .withColumn("_table_name", lit(table))

  /** Union endpoint frames that may carry drifting schemas (reference
    * `all_data.extend(...)` dummyjson_ingestor.py:305-343 plus the
    * dynamic ALTER TABLE ADD COLUMN at :358-405): unionByName with
    * null-fill is the columnar equivalent of schema evolution.
    */
  def unionEndpoints(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Bronze scan with schema drift tolerated across files (reference
    * dynamic schema evolution, dummyjson_ingestor.py:358-405).
    */
  def readLayer(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
