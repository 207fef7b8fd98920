package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class KnnOutliersSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // dense cluster on +x (ids 1-4, tiny angular jitter), one isolated
  // point near -y (id 9): its best cosine to anyone is ~-0.02
  private def emb = Seq(
    (1L, Array(1.00f, 0.00f, 0f, 0f)), (2L, Array(1.00f, 0.01f, 0f, 0f)),
    (3L, Array(1.00f, 0.02f, 0f, 0f)), (4L, Array(1.00f, 0.03f, 0f, 0f)),
    (9L, Array(0.02f, -1.00f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  test("knnOutliers flags the isolated point, spares the cluster") {
    val out = Similarity.knnOutliers(emb, emb, "vec_id", "embedding",
        k = 3, thrPct = 50)
      .select("query_id", "outlier", "n_nn")
      .as[(Long, Boolean, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 5 && out.values.forall(_._3 == 3L))
    assert(out(9L)._2, "the isolated point must flag")
    assert(Seq(1L, 2L, 3L, 4L).forall(!out(_)._2),
      "cluster members see ~1.0 cosines and must not flag")
  }

  test("sim_total is the decimal total of the 9-dp top-k cosines") {
    val one = Similarity.knnOutliers(emb,
        emb.filter($"vec_id" === 1), "vec_id", "embedding", k = 2)
      .select("sim_total").as[Double].head()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.lazyZip(bd).map(_ * _).sum
      dot / (math.sqrt(ad.map(x => x * x).sum) *
        math.sqrt(bd.map(x => x * x).sum))
    }
    val v = Map(1L -> Array(1.00f, 0.00f, 0f, 0f),
      2L -> Array(1.00f, 0.01f, 0f, 0f), 3L -> Array(1.00f, 0.02f, 0f, 0f))
    val want = Seq(2L, 3L) // nearest two to id 1
      .map(i => BigDecimal(math.round(cos(v(1L), v(i)) * 1e9), 9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    assert(one == want)
  }

  test("knnOutliersLsh agrees with brute on the planted fixture and " +
      "surfaces zero-candidate anchors as outliers") {
    val lsh = Similarity.knnOutliersLsh(emb, emb, "vec_id", "embedding",
        k = 3, thrPct = 50, bits = 2, dim = 4, tables = 4)
      .select("query_id", "outlier", "n_nn")
      .as[(Long, Boolean, Long)].collect().map(r => r._1 -> r).toMap
    assert(lsh.size == 5, "every anchor emits a row, candidates or not")
    assert(lsh(9L)._2, "isolated: low-sim candidates or zero collisions")
    assert(Seq(1L, 2L, 3L, 4L).forall(!lsh(_)._2),
      "near-identical cluster members collide in every table")
    // zero-candidate semantics pinned directly: a corpus where the
    // anchor is the only vector -> no candidates -> n_nn=0, outlier
    val solo = Similarity.knnOutliersLsh(
      emb.filter($"vec_id" === 9), emb.filter($"vec_id" === 9),
      "vec_id", "embedding", k = 3, bits = 2, dim = 4, tables = 4)
      .select("n_nn", "outlier").as[(Long, Boolean)].head()
    assert(solo == ((0L, true)))
  }

  test("a capped-away blob reads as capped, never as isolation") {
    // 300 copies of one direction: with cap=100 every bucket holding
    // the blob is dropped, so blob anchors see no candidates — but the
    // densest region in the corpus must NOT flag as outlier; `capped`
    // carries the reason. The far point's own bucket is small: whether
    // it collides with nothing (n_nn=0, not capped -> outlier) or
    // scores low, it flags.
    val blob = (1L to 300L).map(i => (i, Array(1f, 0f, 0f, 0f)))
    val df = (blob :+ ((999L, Array(0f, 1f, 0f, 0f)))).toDF("vec_id", "embedding")
    val rows = Similarity.knnOutliersLsh(df, df, "vec_id", "embedding",
        k = 3, bits = 2, dim = 4, tables = 2, maxBucketSize = 100)
      .select("query_id", "n_nn", "capped", "outlier")
      .as[(Long, Long, Boolean, Boolean)].collect()
    assert(rows.length == 301)
    assert(rows.map(_._2).sum == 0L,
      "capped buckets must contribute no candidates")
    val blobRows = rows.filter(_._1 <= 300L)
    assert(blobRows.forall(r => r._3 && !r._4),
      "blob anchors: capped=true, outlier=false")
    val far = rows.find(_._1 == 999L).get
    assert(far._4, "the genuinely isolated point still flags")
  }
}
