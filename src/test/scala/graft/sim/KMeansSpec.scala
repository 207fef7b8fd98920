package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class KMeansSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // two clean directions: x-ish (ids 1-4) and y-ish (ids 5-8)
  private def pts = Seq(
    (1L, Array(1.0f, 0.00f, 0f, 0f)), (2L, Array(1.0f, 0.05f, 0f, 0f)),
    (3L, Array(1.0f, -0.05f, 0f, 0f)), (4L, Array(0.9f, 0.1f, 0f, 0f)),
    (5L, Array(0.0f, 1.0f, 0f, 0f)), (6L, Array(0.05f, 1.0f, 0f, 0f)),
    (7L, Array(-0.05f, 1.0f, 0f, 0f)), (8L, Array(0.1f, 0.9f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  test("separable directions cluster together after Lloyd rounds") {
    val got = KMeans.fit(pts, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Long)].collect().toMap
    val a = got.filter(_._1 <= 4).values.toSet
    val b = got.filter(_._1 >= 5).values.toSet
    assert(a.size == 1, s"x-direction vectors must share a cluster: $got")
    assert(b.size == 1, s"y-direction vectors must share a cluster: $got")
    assert(a != b, "the two directions must separate")
    assert(got.size == 8)
  }

  test("deterministic: two fits agree row for row") {
    val f1 = KMeans.fit(pts, "vec_id", "embedding", k = 2, iters = 2)
      .as[(Long, Long)].collect().sorted.toSeq
    val f2 = KMeans.fit(pts, "vec_id", "embedding", k = 2, iters = 2)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(f1 == f2)
  }

  test("empty clusters keep their centroid, never crash") {
    // k=4 over only two real directions: at least one init centroid
    // loses every member after the first assignment
    val got = KMeans.fit(pts, "vec_id", "embedding", k = 4, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 8)
    assert(got.values.toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
  }

  test("matches a driver-side replay on real testdata") {
    // replay assign(1 round of recenter) in plain Scala from the same
    // portable-hash init and compare every assignment
    val emb = graft.Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val k = 4
    val got = KMeans.fit(emb, "vec_id", "embedding", k = k, iters = 2)
      .as[(Long, Long)].collect().toMap

    val vecs = emb.select(col("vec_id"),
        Similarity.toDouble(col("embedding")).as("v"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val prime = 100000007L; val prime2 = 99999989L
    val mult = 2654435761L + 7L; val mult2 = 2246822519L
    def h(id: Long) = ((id % prime) * mult % prime2) * mult2 % 1000000000L
    var cents = vecs.sortBy(t => (h(t._1), t._1)).take(k).map(_._2)
    def score(v: Seq[Double], c: Seq[Double]): Double = {
      var dot = 0.0; var nn = 0.0; var i = 0
      while (i < c.size) { dot += v(i) * c(i); nn += c(i) * c(i); i += 1 }
      BigDecimal(dot / math.sqrt(nn))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def assign(cs: Seq[Seq[Double]]): Map[Long, Int] =
      vecs.map { case (id, v) =>
        val sc = cs.map(score(v, _))
        id -> sc.indexOf(sc.max)
      }.toMap
    val a0 = assign(cents.toSeq)
    val dim = cents.head.size
    cents = Array.tabulate(k) { c =>
      val members = vecs.filter(t => a0(t._1) == c).map(_._2)
      if (members.isEmpty) cents(c)
      else Seq.tabulate(dim) { d =>
        val sum = members.map(m => BigDecimal(m(d))
          .setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum
        (sum.toDouble / members.size.toDouble)
      }
    }
    val a1 = assign(cents.toSeq)
    assert(got == a1.map { case (id, c) => id -> c.toLong })
  }

  test("early-stop == full-iters on a converged fixture") {
    // two tight blobs: after one recenter the centroids are the blob
    // means and every later recenter reproduces them exactly, so a
    // fixpoint-stopped run must equal the hard-capped run bit for bit
    val capped = KMeans.fit(pts, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Long)].collect().sorted.toSeq
    val stopped = KMeans.fit(pts, "vec_id", "embedding", k = 2, iters = 50)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(stopped == capped)
  }

  test("zero vector among init seeds fails loudly") {
    val withZero = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)), (2L, Array(0f, 0f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      KMeans.fit(withZero, "vec_id", "embedding", k = 3, iters = 2)
    }
    assert(e.getMessage.contains("zero vector"))
  }
}
