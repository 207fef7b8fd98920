package graft.maintenance

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class LayoutSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Reference interleave: bit-by-bit loop. */
  private def mortonRef(a: Long, b: Long): Long =
    (0 until 16).foldLeft(0L) { (acc, i) =>
      acc | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
    }

  test("zorder2 matches the bit-by-bit reference interleave") {
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (70000L, 3L), (19723L, 41L))
    val got = cases.toDF("a", "b")
      .select(Layout.zorder2(col("a"), col("b")).as("z"))
      .as[Long].collect()
    cases.zip(got).foreach { case ((a, b), z) =>
      assert(z == mortonRef(a & 0xFFFF, b & 0xFFFF), s"($a,$b)")
    }
  }

  test("z-key ordering keeps 2-D locality: same quadrant sorts together") {
    // the top bit pair of the z-key is the (a,b) high-bit quadrant, so
    // sorting by zkey can never interleave two different quadrants
    val df = (for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    val sorted = df
      .select(col("a"), col("b"), Layout.zorder2(col("a") * 1024, col("b") * 1024).as("z"))
      .orderBy("z")
      .select((col("a") / 32).cast("int") + (col("b") / 32).cast("int") * 2)
      .as[Int].collect()
    // quadrant sequence must be non-interleaved: each quadrant id
    // appears as one contiguous run
    val runs = sorted.foldLeft(List.empty[Int]) {
      case (acc, q) if acc.headOption.contains(q) => acc
      case (acc, q) => q :: acc
    }
    assert(runs.length == 4, s"quadrants interleaved: $runs")
  }
}
