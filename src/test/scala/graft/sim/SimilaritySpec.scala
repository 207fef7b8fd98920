package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // 4-dim unit-ish vectors: 1 and 2 identical direction, 3 orthogonal
  private def emb = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(2.0f, 0.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Array(0.7f, 0.7f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("semanticDecontaminate drops direction-matched train rows only") {
    // eval matches vec 1's direction (scaled) -> 1 AND 2 are leakage
    // (identical direction); 3 orthogonal and 4 diagonal survive
    val evalSet = Seq((100L, Array(3.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDecontaminate(emb, evalSet, "vec_id",
        "embedding", threshold = 0.999, bits = 8, dim = 4, tables = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L))
    // an eval set matching nothing leaves the corpus untouched
    val none = Seq((100L, Array(0.0f, 0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val all = Similarity.semanticDecontaminate(emb, none, "vec_id",
        "embedding", threshold = 0.999, bits = 8, dim = 4, tables = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 3L, 4L))
  }

  test("bruteTopK ranks by exact cosine with deterministic tiebreak") {
    val out = Similarity.bruteTopK(emb, emb.filter($"vec_id" === 1), "vec_id",
        "embedding", 3)
      .orderBy("rnk").as[(Long, Long, Int)].collect()
    assert(out.map(_._2).toSeq == Seq(2L, 4L, 3L)) // cos: 1.0, ~0.707, 0.0
    assert(out.map(_._3).toSeq == Seq(1, 2, 3))
  }

  test("knnLabelNoise surfaces the planted mislabel, spares its neighbors") {
    // cluster A on x (ids 1-4, id 4 MISLABELED as b), cluster B on y
    // (ids 5-8). k=3: the mislabel's NN are all true-a -> 100%
    // disagreement; clean a-anchors see 2 agreeing a's + the mislabel
    // -> 333333 ppm, below majority.
    val pts = Seq(
      (1L, Array(1.0f, 0.00f), "a"), (2L, Array(1.0f, 0.01f), "a"),
      (3L, Array(1.0f, 0.02f), "a"), (4L, Array(1.0f, 0.03f), "b"),
      (5L, Array(0.0f, 1.00f), "b"), (6L, Array(0.01f, 1.0f), "b"),
      (7L, Array(0.02f, 1.0f), "b"), (8L, Array(0.03f, 1.0f), "b")
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelNoise(pts, pts, "vec_id", "embedding",
        "label", k = 3)
      .as[(Long, String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._5, r._6))).toMap
    assert(out(4L) == ((1000000L, true)), "the planted mislabel flags")
    assert(out(1L) == ((333333L, false)) && out(2L)._2 == false)
    assert(out(5L)._2 == false && out(6L)._2 == false)
  }

  test("corpusDiversity: exact mean pairwise dot without materializing pairs") {
    // (1,0), (0,1), (1,0): sum vec = (2,1), |sum|^2 = 5, sum|v|^2 = 3
    // -> pairwise dot total = 2 over 3*2 ordered pairs -> 1/3
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.corpusDiversity(vecs, "embedding")
      .as[(Long, Double, Double)].collect().head
    assert(got._1 == 3L && got._2 == 1.0)
    assert(math.abs(got._3 - 1.0 / 3) < 1e-9)
    // full collapse: every vector identical -> mean pairwise cosine 1
    val collapsed = Seq.fill(5)(Array(0.6f, 0.8f)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val c = Similarity.corpusDiversity(collapsed, "embedding")
      .as[(Long, Double, Double)].collect().head
    assert(math.abs(c._3 - c._2) < 1e-6,
      "collapsed corpus: pairwise dot equals the norm^2")
    // orthogonal pair -> exactly 0
    val ortho = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.corpusDiversity(ortho, "embedding")
      .as[(Long, Double, Double)].collect().head._3 == 0.0)
  }

  test("hardNegatives: only different-label vectors, ranked by cosine") {
    // labels: {1,2} class 0, {3,4} class 1. Anchor 1's hard negatives
    // exclude 2 (same label) even though it is the NEAREST vector —
    // the whole point of the label predicate.
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(2.0f, 0.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (4L, Array(0.7f, 0.7f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(labeled,
        labeled.filter($"vec_id" === 1), "vec_id", "embedding", "label", 2)
      .orderBy("rnk").as[(Long, Long, Int)].collect()
    assert(out.map(_._2).toSeq == Seq(4L, 3L)) // cos ~0.707 then 0.0
    assert(!out.map(_._2).contains(2L), "same-label neighbor must be out")

    // LSH variant obeys the same contract on its candidate set: vector
    // 2 shares every bucket with anchor 1 (identical direction) yet is
    // filtered by label; 4 is the nearest cross-label candidate.
    val lsh = Similarity.hardNegativesLsh(labeled,
      labeled.filter($"vec_id" === 1), "vec_id", "embedding", "label",
      k = 2, bits = 8, dim = 4, tables = 4)
      .orderBy("rnk").as[(Long, Long, Int)].collect()
    assert(!lsh.map(_._2).contains(2L))
    assert(lsh.forall(r => Set(3L, 4L)(r._2)))
    if (lsh.nonEmpty) assert(lsh.head._2 == 4L,
      "when found, the diagonal vector outranks the orthogonal one")
  }

  test("hardNegativesLsh: bucket cap drops a mass-duplicated blob") {
    // 500 same-direction corpus vectors (a duplicated embedding blob,
    // label 9) share every SRP bucket in every table — uncapped, the
    // candidate set would be anchors×500 per table. With the cap they
    // vanish from the candidate pool; the ordinary cross-label
    // negatives in small buckets survive.
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(2.0f, 0.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (4L, Array(0.7f, 0.7f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val blob = (0L until 500L).map(i =>
      (i + 100L, Array(0.0f, 0.0f, 1.0f, 0.0f), 9))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegativesLsh(
      labeled.unionByName(blob), labeled.filter($"vec_id" === 1),
      "vec_id", "embedding", "label", k = 400,
      bits = 8, dim = 4, tables = 4, maxBucketSize = 20)
      .as[(Long, Long, Int)].collect()
    assert(!out.exists(_._2 >= 100L), "capped blob never reaches ranking")
    assert(out.forall(r => Set(3L, 4L)(r._2)),
      "ordinary cross-label negatives survive the cap")
  }

  test("knnLabelNoiseLsh matches brute suspects on the planted-corruption fixture") {
    // the exact q246/q248 fixture: labels derived from a 3-bit portable
    // SRP bucket (neighbors agree by construction), every 13th vector
    // corrupted, every 7th audited. The contract the scale twin must
    // keep: every PLANTED corruption the brute audit surfaces is also
    // surfaced by LSH (perfect planted recall), and LSH never flags an
    // anchor brute clears (its candidate set is a subset of the brute
    // neighborhood on this fixture). Brute's residual boundary flags —
    // vectors genuinely ambiguous under the label rule — may drop out
    // when their boundary neighbors don't share buckets; that is the
    // recall trade the scaladoc documents.
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val labeled = emb.withColumn("__b", element_at(
        graft.functions.SrpSignatures.buckets(
          Similarity.toDouble(col("embedding")), 3, 64, 1), 1))
      .withColumn("label", when(col("vec_id") % 13 === 0,
        (col("__b") + 1) % 8).otherwise(col("__b")))
      .drop("__b")
    val anchors = labeled.filter(col("vec_id") % 7 === 0)
    def suspects(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("suspect")).select("query_id").as[Long].collect().toSet
    val brute = suspects(Similarity.knnLabelNoise(labeled, anchors,
      "vec_id", "embedding", "label", k = 10, suspectPpm = 900000L))
    val lsh = suspects(Similarity.knnLabelNoiseLsh(labeled, anchors,
      "vec_id", "embedding", "label", k = 10, suspectPpm = 900000L,
      bits = 4, dim = 64, tables = 8))
    val planted = anchors.filter(col("vec_id") % 13 === 0)
      .select("vec_id").as[Long].collect().toSet
    assert(planted.nonEmpty && (planted & brute).nonEmpty,
      "fixture must plant corruptions the brute audit recovers")
    assert((planted & lsh) == (planted & brute),
      "LSH audit must recover exactly the planted corruptions brute " +
        s"does: missing ${(planted & brute) -- lsh}, " +
        s"extra ${(planted & lsh) -- brute}")
    assert((lsh -- brute).isEmpty,
      s"LSH must not flag anchors brute clears: ${lsh -- brute}")
  }

  test("knnLabelNoiseLsh: bucket cap drops a blob neighborhood loudly, not N²") {
    // audit anchors against a corpus carrying a 500-copy blob: with a
    // 20-row cap the blob's buckets are dropped entirely, so anchors
    // pointing INTO the blob get no candidates (no row) instead of a
    // 500²-candidate explosion — the documented recall trade.
    val blob = (0L until 500L).map(i =>
      (i + 100L, Array(0.0f, 0.0f, 1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val rest = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.01f, 0.0f, 0.0f), 0),
      (3L, Array(1.0f, 0.02f, 0.0f, 0.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val corpus = rest.unionByName(blob)
    val out = Similarity.knnLabelNoiseLsh(corpus,
      corpus.filter($"vec_id".isin(1L, 100L)),
      "vec_id", "embedding", "label", k = 3, suspectPpm = 500000L,
      bits = 8, dim = 4, tables = 4, maxBucketSize = 20)
      .as[(Long, Int, Long, Long, Long, Boolean)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(!byId.contains(100L), "blob anchor's buckets are capped away")
    assert(byId.contains(1L) && byId(1L)._4 >= 1L,
      "small-bucket anchor still sees its cross-label neighbor")
  }

  test("native ArrayDot matches a hand computation") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val d = df.select(Similarity.dot($"a", $"b")).as[Double].collect().head
    assert(d == 1.0 * 4 + 2 * 5 + 3 * 6)
  }

  test("portable SrpSignatures buckets equal a driver-side replay of the hash + fold") {
    val (bits, dim, tables, seed) = (8, 64, 3, 7L)
    val df = graft.Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(20).select($"vec_id", Similarity.toDouble($"embedding").as("v"))
    val native = df.select($"vec_id",
        graft.functions.SrpSignatures.buckets($"v", bits, dim, tables).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // independent reimplementation: portable sign per coordinate, then
    // the same ascending-dim left fold
    def sign(t: Int, b: Int, j: Int): Double = {
      val k = (t.toLong * bits + b) * dim + j
      val h = (k % 100000007L) * (2654435761L + seed) % 99999989L * 2246822519L % 1000000L
      if (h < 500000L) 1.0 else -1.0
    }
    val vecs = df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val expected = vecs.map { case (id, v) =>
      id -> (0 until tables).map { t =>
        (0 until bits).map { b =>
          var proj = 0.0
          var j = 0
          while (j < dim && j < v.length) { proj += v(j) * sign(t, b, j); j += 1 }
          if (proj >= 0) 1L << b else 0L
        }.sum
      }
    }
    assert(native.keySet == expected.keySet)
    native.foreach { case (id, bk) => assert(bk.toSeq == expected(id), s"id=$id") }
    // the interpreted path (nullSafeEval through eval on an InternalRow)
    // agrees with the same replay
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val expr = graft.functions.SrpSignatures(
      BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = true),
      bits, dim, tables)
    vecs.foreach { case (id, v) =>
      val out = expr.eval(InternalRow(new GenericArrayData(v.toArray)))
        .asInstanceOf[ArrayData].toLongArray().toSeq
      assert(out == expected(id), s"eval id=$id")
    }
    assert(expr.eval(InternalRow(null)) == null, "null vector -> null")
  }

  test("graft_srp_buckets rejects a fifth (seed) argument") {
    // one plane family: the SQL function takes no seed, so a stray
    // fifth argument fails instead of choosing other planes
    val e = intercept[Exception] {
      spark.sql("SELECT graft_srp_buckets(array(1.0D, 2.0D), 2, 2, 1, 7L)")
        .collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("got 5 args")), s"got $e")
  }

  test("lshTopK finds the identical-direction vector") {
    val out = Similarity.lshTopK(emb, emb.filter($"vec_id" === 1), "vec_id",
        "embedding", k = 3, bits = 8, dim = 4, tables = 8)
      .as[(Long, Long, Int)].collect()
    assert(out.nonEmpty)
    assert(out.head._2 == 2L) // identical direction => identical signs in every table
  }

  test("cosineNearDupPairs: finds scale-invariant duplicates, never unrelated") {
    val withDup = emb.unionByName(
      Seq((10L, Array(3.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val pairs = Similarity.cosineNearDupPairs(withDup, "vec_id", "embedding",
        threshold = 0.999, bits = 8, dim = 4, tables = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))  // same direction
    assert(pairs.contains((1L, 10L)) && pairs.contains((2L, 10L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // orthogonal
  }

  test("cosineNearDupPairs: bucket cap drops a mass-duplicated blob, keeps real pairs") {
    // 500 copies of the same direction share every SRP bucket in every
    // table — the degenerate case that would self-join 500^2 rows per
    // table before the cosine verify. A separate genuine duplicate pair
    // lives in ordinary small buckets and must survive the cap.
    val blob = (0L until 500L).map(i =>
      (i + 100L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = emb.unionByName(blob)
    val pairs = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.999, bits = 8, dim = 4, tables = 4, maxBucketSize = 20)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 >= 100L && p._2 >= 100L)) // blob capped away
    assert(pairs.contains((1L, 2L)))                          // real pair kept
  }

  test("lshTopK agrees with brute force on clustered testdata sample") {
    val embeddings = graft.Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = embeddings.filter($"vec_id" < 3)
    val brute = Similarity.bruteTopK(embeddings, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(embeddings, queries, "vec_id",
        "embedding", k = 5, bits = 8, dim = 64, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // approximate recall: some overlap with exact answers, never empty
    assert(approx.nonEmpty)
    assert((brute intersect approx).nonEmpty)
  }

  test("standardizeDims yields ~zero mean and unit variance per dimension") {
    val embeddings = graft.Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val z = Similarity.standardizeDims(embeddings, "vec_id", "embedding")
    val n = embeddings.count()
    assert(z.count() == n * 64)
    val stats = z.groupBy("dim")
      .agg(org.apache.spark.sql.functions.avg($"z").as("m"),
        org.apache.spark.sql.functions.variance($"z").as("v"))
      .as[(Long, Double, Double)].collect()
    assert(stats.length == 64)
    stats.foreach { case (_, m, v) =>
      assert(math.abs(m) < 1e-6)
      // sample variance vs population std: off by n/(n-1)
      assert(math.abs(v * (n - 1) / n - 1.0) < 1e-3)
    }
  }

  test("rrfFuse matches the hand formula and rewards cross-list presence") {
    // list A ranks 10,20,30; list B ranks 20,40
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rnk")
    val b = Seq((20L, 1), (40L, 2)).toDF("id", "rnk")
    val got = Similarity.rrfFuse(Seq(a, b), "id", k = 60, topK = 10)
      .as[(Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def r(n: Int) = BigDecimal(1.0 / (60 + n))
      .setScale(15, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got(20L)._1 - (r(2) + r(1))) < 1e-12)
    assert(got(20L)._2 == 2)
    assert(math.abs(got(10L)._1 - r(1)) < 1e-12 && got(10L)._2 == 1)
    // doc 20 (rank 2 + rank 1) outranks doc 10 (rank 1 in one list)
    assert(got(20L)._1 > got(10L)._1)
    // topK bound + determinism across layouts
    val again = Similarity.rrfFuse(Seq(a.repartition(5), b), "id")
      .as[(Long, Double, Long)].collect().toSet
    assert(again == Similarity.rrfFuse(Seq(a, b), "id")
      .as[(Long, Double, Long)].collect().toSet)
  }
}
