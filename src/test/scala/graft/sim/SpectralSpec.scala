package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SpectralSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // all mass on axis 0: gram = [[14,0],[0,0]], top direction (1,0)
  private def axis = Seq(
    (1L, Seq(2.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(3.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("gram's fan spreads vectors whose first coordinate is constant") {
    // one input partition, every vector starting with the same value:
    // a fan keyed on that coordinate would send all rows to one task
    val same0 = (1 to 40)
      .map(i => (i.toLong, Seq(1.0f, i.toFloat, -i.toFloat)))
      .toDF("vec_id", "embedding").coalesce(1)
    val sizes = Spectral.fanVectors(same0, "embedding").rdd
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.sum == 40)
    assert(sizes.count(_ > 0) > 1, sizes.mkString(","))
  }

  test("gram: exact decimal-summed cells") {
    val g = Spectral.gram(axis, "embedding")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(g == Map((0L, 0L) -> 14.0, (0L, 1L) -> 0.0,
      (1L, 0L) -> 0.0, (1L, 1L) -> 0.0))
  }

  test("powerTopVec: converges to the dominant axis and is unit") {
    val g = Spectral.gram(axis, "embedding").localCheckpoint(true)
    val v = Spectral.powerTopVec(g, dim = 2, iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(v == Map(0L -> 1.0, 1L -> 0.0))
  }

  test("project: per-vector score is the axis coordinate") {
    val g = Spectral.gram(axis, "embedding").localCheckpoint(true)
    val v = Spectral.powerTopVec(g, dim = 2, iters = 2)
    val p = Spectral.project(axis, "vec_id", "embedding", v)
      .as[(Long, Double)].collect().toMap
    assert(p == Map(1L -> 2.0, 2L -> 1.0, 3L -> 3.0))
  }

  test("powerTopVec: off-axis dominant direction, sign fixed by init") {
    // vectors along (1,1): top direction (1/√2, 1/√2), positive sign
    // because the all-ones init has positive overlap
    val diag = Seq((1L, Seq(1.0f, 1.0f)), (2L, Seq(2.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val g = Spectral.gram(diag, "embedding").localCheckpoint(true)
    val vdf = Spectral.powerTopVec(g, dim = 2, iters = 3)
    val v = vdf.as[(Long, Double)].collect().toMap
    val r = 1.0 / math.sqrt(2.0)
    assert(math.abs(v(0L) - r) < 1e-6 && math.abs(v(1L) - r) < 1e-6)
    val p = Spectral.project(diag, "vec_id", "embedding", vdf)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(p(1L) - math.sqrt(2.0)) < 1e-5)
    assert(math.abs(p(2L) - 2 * math.sqrt(2.0)) < 1e-5)
  }
}
