package graft.bronze

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class BronzeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("withIngestMeta stamps the four lineage columns") {
    val df = Seq((1, "x")).toDF("id", "v")
    val out = Bronze.withIngestMeta(df, "api", "ep", "tbl",
      to_timestamp(lit("2024-02-01 00:00:00")))
    val r = out.collect().head
    assert(r.getAs[String]("_source_name") == "api")
    assert(r.getAs[String]("_endpoint") == "ep")
    assert(r.getAs[String]("_table_name") == "tbl")
    assert(out.columns.count(_.startsWith("_")) == 4)
  }

  test("unionEndpoints null-fills drifted schemas") {
    val a = Seq((1, "x")).toDF("id", "name")
    val b = Seq((2, 9.5)).toDF("id", "price")
    val out = Bronze.unionEndpoints(Seq(a, b))
    assert(out.columns.toSet == Set("id", "name", "price"))
    assert(out.count() == 2)
    assert(out.filter($"id" === 1 && $"price".isNull).count() == 1)
  }

  test("readLayer merges the schemas of two appends") {
    val dir = java.nio.file.Files.createTempDirectory("bronze").toString
    Seq((1, "a")).toDF("id", "v").write.mode("append").parquet(dir)
    Seq((2, "b", 1.5)).toDF("id", "v", "w").write.mode("append").parquet(dir)
    val back = Bronze.readLayer(spark, dir)
    assert(back.columns.toSet == Set("id", "v", "w")) // merged schema
    assert(back.count() == 2)
  }
}
