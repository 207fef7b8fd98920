package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class PrivacySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // (nation, band, segment): class (1,1) has 3 rows / 2 segments,
  // class (1,2) has 1 row, class (2,1) has 2 rows / 1 segment
  private def rows = Seq(
    (1, 1L, "AUTO"), (1, 1L, "AUTO"), (1, 1L, "HOME"),
    (1, 2L, "AUTO"),
    (2, 1L, "HOME"), (2, 1L, "HOME")
  ).toDF("nation", "band", "segment")

  private def report = Privacy.kAnonymityReport(rows,
    Seq("nation" -> col("nation"), "band" -> col("band")),
    sensitive = col("segment"), k = 2, l = 2)

  test("kAnonymityReport verdicts per equivalence class") {
    val m = report
      .select("nation", "band", "n", "l_distinct", "k_anonymous", "l_diverse")
      .as[(Int, Long, Long, Long, Boolean, Boolean)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(m((1, 1L)) == (1, 1L, 3L, 2L, true, true))
    assert(m((1, 2L)) == (1, 2L, 1L, 1L, false, false)) // singleton: linkable
    assert(m((2, 1L)) == (2, 1L, 2L, 1L, true, false)) // k ok, no diversity
  }

  test("guards reject empty quasi-ids and bad k/l") {
    intercept[IllegalArgumentException] {
      Privacy.kAnonymityReport(rows, Seq.empty, col("segment"))
    }
    intercept[IllegalArgumentException] {
      Privacy.kAnonymityReport(rows, Seq("n" -> col("nation")),
        col("segment"), k = 0)
    }
  }
}
