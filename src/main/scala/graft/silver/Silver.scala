package graft.silver

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Silver-layer entity transforms (reference:
  * database/layers/silver/transform_silver.py:23-80). Each is a pure
  * DataFrame => DataFrame: dedup keep-latest → cast → derive → project →
  * distinct, exactly the reference's pandas sequence re-expressed as one
  * window + one projection (single shuffle on the dedup key).
  */
object Silver {

  private def latest(df: DataFrame, key: String): DataFrame =
    // pandas keep='last' tie-breaks by input order, which has no
    // distributed equivalent; a content-hash tiebreaker makes equal
    // (key, timestamp) rows resolve deterministically on any cluster
    // (SURVEY §7.4).
    Dedup.keepLatest(df, Seq(key), "_ingestion_timestamp",
      Seq(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).desc))

  /** silver.products (transform_silver.py:24-34): dedup by id, cast,
    * availability flag, project.
    */
  def products(bronze: DataFrame): DataFrame =
    latest(bronze, "id")
      .select(
        col("id").cast("long").as("product_id"),
        col("title"),
        col("price").cast("double").as("price"),
        col("category"),
        coalesce(col("price") > 0, lit(false)).as("is_available"),
        col("_ingestion_timestamp").as("last_updated"))
      .distinct()

  /** silver.carts (transform_silver.py:37-47, discount % at 73-77):
    * dedup by id, safe-division discount percentage.
    */
  def carts(bronze: DataFrame): DataFrame =
    latest(bronze, "id")
      .select(
        col("id").cast("long").as("cart_id"),
        col("userId").cast("long").as("user_id"),
        col("total").cast("double").as("total_value"),
        when(col("total") > 0,
          round((col("total") - col("discountedTotal")) / col("total") * 100, 2))
          .otherwise(0.0).as("discount_percentage"),
        col("_ingestion_timestamp").as("last_updated"))
      .distinct()

  /** silver.users (transform_silver.py:50-60): keyed on EMAIL (not id),
    * normalized email, concatenated full name.
    */
  def users(bronze: DataFrame): DataFrame =
    latest(
      bronze.withColumn("email", lower(trim(col("email")))), "email")
      .select(
        col("id").cast("long").as("user_id"),
        col("email"),
        trim(concat_ws(" ", col("firstname"), col("lastname"))).as("full_name"),
        col("_ingestion_timestamp").as("last_updated"))
      .distinct()

  /** silver.orders (transform_silver.py:63-80): dedup by id, amount
    * casts.
    */
  def orders(bronze: DataFrame): DataFrame =
    latest(bronze, "id")
      .select(
        col("id").cast("long").as("order_id"),
        col("userId").cast("long").as("user_id"),
        col("total_amount").cast("double").as("total_amount"),
        coalesce(col("final_amount"), col("total_amount")).cast("double").as("final_amount"),
        col("_ingestion_timestamp").as("last_updated"))
      .distinct()

  /** The silver tables as the pipeline writes and checks them, in that
    * order: name, primary key, and the transform from the table's
    * bronze history.
    */
  val tables: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("products", "product_id", products _),
    ("carts", "cart_id", carts _),
    ("users", "email", users _),
    ("orders", "order_id", orders _))
}
