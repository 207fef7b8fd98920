package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class IngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("retryWithBackoff retries with exponential delays then succeeds") {
    var attempts = 0
    var delays = Seq.empty[Long]
    val out = Ingest.retryWithBackoff(maxRetries = 3, baseDelayMs = 100,
      sleep = d => delays :+= d) { () =>
      attempts += 1
      if (attempts < 3) sys.error("transient") else "ok"
    }
    assert(out == "ok")
    assert(delays == Seq(100L, 200L))
  }

  test("retryWithBackoff rethrows after exhausting retries") {
    var attempts = 0
    intercept[RuntimeException] {
      Ingest.retryWithBackoff(maxRetries = 2, sleep = _ => ()) { () =>
        attempts += 1; sys.error("always")
      }
    }
    assert(attempts == 3) // initial + 2 retries
  }

  test("jsonlWithQuarantine: clean/quarantine split, half-valid lines quarantined") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.jsonl"),
      """{"id":1,"name":"ok"}
        |{"id":2,#broken
        |{"id":"not-a-number","name":"half"}
        |{"id":4,"name":"fine"}""".stripMargin)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("name", "string")
    val (clean, q) = Ingest.jsonlWithQuarantine(spark, dir, schema)
    val got = clean.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "ok"), (4L, "fine")))
    val raws = q.collect().map(_.getString(0)).toSet
    assert(raws == Set("{\"id\":2,#broken",
      "{\"id\":\"not-a-number\",\"name\":\"half\"}"))
  }

  test("jsonlWithQuarantine: rejects a schema that claims __corrupt") {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("__corrupt", "string")
    intercept[IllegalArgumentException] {
      Ingest.jsonlWithQuarantine(spark, "/nonexistent", schema)
    }
  }
}
