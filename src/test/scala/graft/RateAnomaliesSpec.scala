package graft

import org.scalatest.funsuite.AnyFunSuite

/** q177_rate_anomalies on the smallest testdata scale, where one
  * (event_type, day) has a trailing 7-day window of identical daily
  * counts. Its variance is 0, so z has no value: the oracle gives NULL
  * there, and under ANSI a plain `/` by 0.0 would throw instead.
  */
class RateAnomaliesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("q177 at sf0.001: a zero-variance window gives NULL z, not an error") {
    val rows = SparkEntry.queries("q177_rate_anomalies")(spark, sf).collect()
    assert(rows.length == 135)
    val nullZ = rows.filter(_.isNullAt(rows.head.fieldIndex("z")))
    assert(nullZ.length == 1, nullZ.mkString("; "))
    assert(nullZ.head.isNullAt(nullZ.head.fieldIndex("is_anomaly")))
  }
}
