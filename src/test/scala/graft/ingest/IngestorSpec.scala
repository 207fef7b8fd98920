package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.sql.Timestamp
import graft.TestSpark
import graft.operators.Quality

class IngestorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val now = Timestamp.valueOf("2024-01-01 00:00:00")

  private class FakeIngestor(rows: Seq[(Long, String)], failValidation: Boolean)
      extends Ingestor {
    val name = "fake"
    var sanitized = false
    def fetch(s: SparkSession): DataFrame = rows.toDF("id", "v")
    override def validate(df: DataFrame): Seq[Quality.CheckResult] =
      if (failValidation)
        Seq(Quality.CheckResult("fake", "forced", 1, passed = false))
      else Seq(Quality.requiredColumns(df, "fake", Seq("id", "v")))
    override def sanitize(df: DataFrame): DataFrame = {
      sanitized = true
      df.filter($"v" =!= "drop-me")
    }
  }

  test("template runs fetch -> validate -> sanitize -> load with metrics") {
    val ing = new FakeIngestor(Seq((1L, "keep"), (2L, "drop-me")), failValidation = false)
    var loaded = -1L
    val log = ing.run(spark, df => { loaded = df.count(); loaded }, now)
    assert(ing.sanitized)
    assert(loaded == 1)
    assert(log.status == "partial") // 2 fetched, 1 loaded, 1 failed
    assert(log.recordsFetched == 2 && log.recordsLoaded == 1 && log.recordsFailed == 1)
  }

  test("validation failure gates the load and audits a failed run") {
    val ing = new FakeIngestor(Seq((1L, "keep")), failValidation = true)
    var loadCalled = false
    val log = ing.run(spark, _ => { loadCalled = true; 0L }, now)
    assert(!loadCalled)
    assert(log.status == "failed")
    assert(log.errorMessage.exists(_.contains("quality gate failed")))
  }
}
