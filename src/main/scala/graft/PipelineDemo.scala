package graft

import org.apache.spark.sql.SparkSession
import java.sql.Timestamp

import graft.pipeline.Runner

/** Runnable end-to-end demo of the medallion pipeline: staged payloads →
  * bronze (lineage-stamped) → silver (dedup/cast/derive) → quality gate
  * → gold daily mart → audit log. Usage: runMain graft.PipelineDemo
  * [workDir] — without a workDir the demo runs in a temp directory and
  * deletes it afterwards; a given workDir is left in place.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try args.headOption match {
      case Some(root) => run(spark, root)
      case None => graft.streaming.Replay.withTempRoot("graft_demo")(run(spark, _))
    } finally spark.stop()
  }

  private def run(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    val layout = Runner.Layout(
      s"$root/bronze", s"$root/silver", s"$root/gold", s"$root/audit")

    val staged = Map(
      "products" -> Seq(
        (1, "Widget", 9.99, "tools"), (2, "Gadget", 24.50, "toys"),
        (2, "Gadget (renamed)", 19.99, "toys")) // dup id: latest must win
        .toDF("id", "title", "price", "category"),
      "carts" -> Seq((10, 100, 200.0, 150.0), (11, 101, 80.0, 80.0))
        .toDF("id", "userId", "total", "discountedTotal"),
      "users" -> Seq((100, " Ada@X.COM ", "Ada", "Lovelace"))
        .toDF("id", "email", "firstname", "lastname"),
      "orders" -> Seq((1000, 100, 200.0, Some(180.0)))
        .toDF("id", "userId", "total_amount", "final_amount"))

    val report = Runner.runFull(spark, staged, layout, "demo_api", "demo-run-1",
      Timestamp.valueOf("2024-01-01 12:00:00"))

    println(s"DEMO bronze=${report.bronzeCounts}")
    println(s"DEMO silver=${report.silverCounts}")
    println(s"DEMO quality=${report.qualityResults.count(_.passed)}/" +
      s"${report.qualityResults.size} checks passed")
    println(s"DEMO gold=${report.goldCounts}")
    println("DEMO silver.products:")
    spark.read.parquet(s"${layout.silver}/products").orderBy("product_id").show()
    println("DEMO gold.finance_mart:")
    spark.read.parquet(s"${layout.gold}/finance_mart").show()
    println("DEMO audit:")
    audit.Audit.read(spark, layout.audit).toDF().show(truncate = false)
  }
}
