package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.TestSpark

class NearDupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again"
  private def docs = Seq(
    (1L, base),
    (2L, base),                                  // exact dup of 1
    (3L, base.replace("quick", "rapid")),        // near dup of 1
    (4L, "completely different words about spark shuffles and parquet files")
  ).toDF("doc_id", "text")

  test("identical texts get identical minhash signatures") {
    val sigs = NearDup.minhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    assert(sigs(1L).length == 64)
  }

  test("nearDupPairs finds exact and near duplicates, not unrelated docs") {
    val pairs = NearDup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // exact dup pair has jaccard 1.0
    val j = NearDup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .filter($"id1" === 1 && $"id2" === 2).select("jaccard")
      .as[Double].collect().head
    assert(j == 1.0)
    // a doc shorter than one shingle: empty signature, no bucket, no pair
    val withShort = docs.union(Seq((5L, "too short")).toDF("doc_id", "text"))
    assert(NearDup.minhashSignatures(withShort, "doc_id", "text")
      .filter($"doc_id" === 5L).select("sig").as[Seq[Long]].head().isEmpty)
    assert(NearDup.nearDupPairs(withShort, "doc_id", "text", threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet == pairs)
  }

  test("simhash: identical docs have hamming 0; near dups small hamming") {
    val sigs = NearDup.simhashPortable(docs, "doc_id", "text")
    val m = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) <= 16)
    val pairs = NearDup.simhashPairs(sigs, "doc_id", maxHamming = 16,
        blocks = 4, bits = 60)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhashPairs equals the brute-force Hamming pair set") {
    // deterministic corpus: 200 random 64-bit hashes plus 40 perturbed
    // copies within hamming <= 3 of their source
    val rnd = new scala.util.Random(42)
    val baseSigs = (0 until 200).map(i => (i.toLong, rnd.nextLong()))
    val perturbed = (0 until 40).map { i =>
      val (srcId, h) = baseSigs(i * 5)
      val flips = 1 + rnd.nextInt(3)
      val bits = rnd.shuffle((0 until 64).toList).take(flips)
      (1000L + srcId, bits.foldLeft(h)((acc, b) => acc ^ (1L << b)))
    }
    val all = baseSigs ++ perturbed
    val sigs = all.toDF("doc_id", "simhash")

    val got = NearDup.simhashPairs(sigs, "doc_id", maxHamming = 3, blocks = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val want = (for {
      (i1, h1) <- all; (i2, h2) <- all
      if i1 < i2 && java.lang.Long.bitCount(h1 ^ h2) <= 3
    } yield (i1, i2)).toSet
    assert(got == want)        // absolute guarantee: no missed pairs
    assert(want.size >= 40)    // the perturbed copies are all found
  }

  test("bucket cap: a 1000-doc identical blob cannot go N^2, real pairs survive") {
    // worst case for LSH blocking: 1000 docs with IDENTICAL text all land
    // in the same bucket for every band — uncapped that is ~500k
    // candidate pairs (N^2/2) from one degenerate key. Alongside the
    // blob, one genuine near-dup pair in ordinary (2-row) buckets.
    val blob = (0L until 1000L).map(i => (i, base * 2))
    val pairDocs = Seq(
      (5000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5001L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val corpus = (blob ++ pairDocs).toDF("doc_id", "text")

    val sigs = NearDup.minhashSignatures(corpus, "doc_id", "text")
    val buckets = NearDup.lshBuckets(sigs, "doc_id", bands = 16, rowsPerBand = 4)
    val capped = NearDup.bucketSelfJoin(
        NearDup.capBuckets(buckets, Seq("band_id", "band_hash"), maxBucketSize = 10),
        "doc_id", Seq("band_id", "band_hash"))
      .as[(Long, Long)].collect().toSet
    // hard bound: candidates are O(cap * N), nowhere near the ~499500
    // blob pairs an uncapped join would emit
    assert(capped.size <= 10 * 1002)
    assert(!capped.exists(p => p._1 < 1000L && p._2 < 1000L)) // blob dropped
    assert(capped.contains((5000L, 5001L)))                   // real pair kept

    // end-to-end: nearDupPairs with the cap still verifies the real pair
    val verified = NearDup.nearDupPairs(corpus, "doc_id", "text",
        threshold = 0.5, maxBucketSize = 10)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(verified == Set((5000L, 5001L)))
  }

  test("bucket cap: simhashPairs drops the identical blob, keeps near pairs") {
    val rnd = new scala.util.Random(7)
    val blobSig = rnd.nextLong()
    val blob = (0L until 1000L).map(i => (i, blobSig))
    val h = rnd.nextLong()
    val pair = Seq((5000L, h), (5001L, h ^ (1L << 13) ^ (1L << 40))) // hamming 2
    val sigs = (blob ++ pair).toDF("doc_id", "simhash")
    val got = NearDup.simhashPairs(sigs, "doc_id", maxBucketSize = 10)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == Set((5000L, 5001L)))
  }

  test("jaccardVerify computes exact token-set jaccard") {
    val pairs = Seq((1L, 4L)).toDF("id1", "id2")
    val j = NearDup.jaccardVerify(pairs, docs, "doc_id", "text")
      .select("jaccard").as[Double].collect().head
    assert(j >= 0.0 && j < 0.2)
  }

  test("gramJaccardVerify: n=1 is token jaccard; n=3 penalizes reordering") {
    // same token SET, different order: token-J = 1, 3-shingle-J ≪ 1
    val reordered = Seq(
      (1L, "a b c d e f g h"),
      (2L, "h g f e d c b a")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val tokJ = NearDup.gramJaccardVerify(pairs, reordered, "doc_id", "text", 1)
      .select("jaccard").as[Double].collect().head
    val triJ = NearDup.gramJaccardVerify(pairs, reordered, "doc_id", "text", 3)
      .select("jaccard").as[Double].collect().head
    assert(tokJ == 1.0)
    assert(triJ == 0.0) // no 3-gram survives a full reversal
    // n=1 delegates to jaccardVerify exactly
    val viaTok = NearDup.jaccardVerify(pairs, reordered, "doc_id", "text")
      .select("jaccard").as[Double].collect().head
    assert(tokJ == viaTok)
    // docs shorter than n drop out (no shingles, inner-join semantics)
    val short = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    assert(NearDup.gramJaccardVerify(pairs, short, "doc_id", "text", 3).isEmpty)
  }

  test("measure-consistent incremental dedup (verifyShingleN=shingleN) == full recompute restricted") {
    val corpus = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val isNew = col("doc_id") % 10 === 0
    val newBatch = corpus.filter(isNew)
    val indexSigs = NearDup.minhashSignatures(corpus.filter(!isNew),
      "doc_id", "text", shingleN = 3)
    val inc = NearDup.nearDupPairsIncremental(newBatch, indexSigs, corpus,
        "doc_id", "text", threshold = 0.9, shingleN = 3)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect().toSet
    val newIds = newBatch.select("doc_id").as[Long].collect().toSet
    val fullAll = NearDup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.9,
        shingleN = 3)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect().toSet
    val full = fullAll.filter(p => newIds(p._1) || newIds(p._2))
    assert(inc == full)
    assert(inc.nonEmpty) // the fixture corpus has planted near-dups
    // recall 1 at J >= 0.9, the premise of the q137/q148 oracles: the
    // full LSH pair set IS the brute-force 3-shingle pair set
    val shingles = corpus.as[(Long, String)].collect().toSeq.flatMap {
      case (id, text) =>
        val toks = text.split("\\s+", -1).toSeq
        if (toks.size < 3) None
        else Some(id -> toks.sliding(3).map(_.mkString(" ")).toSet)
    }
    val bruteForce = (for {
      (i1, g1) <- shingles; (i2, g2) <- shingles if i1 < i2
      j = (g1 & g2).size.toDouble / (g1 | g2).size if j >= 0.9
    } yield (i1, i2, j)).toSet
    assert(fullAll == bruteForce)
  }

  test("incrementalPrefixFilterPairs == full exact join restricted to incoming") {
    val corpus = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    // re-identified copies guarantee planted cross-batch dups AND
    // incoming-incoming structure (two copies of near-dup originals)
    val incoming = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val inc = NearDup.incrementalPrefixFilterPairs(corpus, incoming,
        "doc_id", "text", threshold = 0.9, shingleN = 3)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect().toSet
    val incIds = incoming.select("doc_id").as[Long].collect().toSet
    val full = NearDup.prefixFilterPairs(corpus.unionByName(incoming),
        "doc_id", "text", threshold = 0.9, shingleN = 3)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect().toSet
      .filter(p => incIds(p._1) || incIds(p._2))
    assert(inc == full)
    assert(inc.nonEmpty)
    // and no base x base pair leaks through
    assert(inc.forall(p => incIds(p._1) || incIds(p._2)))
  }

  test("contrastivePairs: positives are the verified dups, negatives never overlap") {
    val corpus = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val got = NearDup.contrastivePairs(corpus, "doc_id", "text")
      .as[(Long, Long, Int)].collect()
    val pos = got.filter(_._3 == 1).map(p => (p._1, p._2)).toSet
    val neg = got.filter(_._3 == 0).map(p => (p._1, p._2)).toSet
    val want = NearDup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.9,
        shingleN = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pos == want && pos.nonEmpty)
    assert(neg.intersect(pos).isEmpty) // no mislabeled true near-dup
    assert(neg.nonEmpty && neg.forall { case (a, b) => a < b })
    // negative partners exist in the corpus
    val ids = corpus.select("doc_id").as[Long].collect().toSet
    assert(neg.forall { case (a, b) => ids(a) && ids(b) })
  }

  test("incremental dedup vs a signature index == full recompute restricted to the batch") {
    val corpus = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val isNew = col("doc_id") % 10 === 0
    val newBatch = corpus.filter(isNew)
    val indexSigs = NearDup.minhashSignatures(corpus.filter(!isNew), "doc_id", "text")
    val inc = NearDup.nearDupPairsIncremental(newBatch, indexSigs, corpus,
        "doc_id", "text", threshold = 0.9)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect().toSet
    val newIds = newBatch.select("doc_id").as[Long].collect().toSet
    val full = NearDup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.9)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect().toSet
      .filter(p => newIds(p._1) || newIds(p._2))
    assert(inc == full)
    assert(inc.nonEmpty) // the fixture corpus is template-heavy; must find pairs
  }

  test("incremental candidates: the index side contributes zero exchanges") {
    val corpus = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val isNew = col("doc_id") % 10 === 0
    val newKeys = NearDup.lshBuckets(
      NearDup.minhashSignatures(corpus.filter(isNew), "doc_id", "text"),
      "doc_id", 16, 4)
    val idxKeys = NearDup.lshBuckets(
      NearDup.minhashSignatures(corpus.filter(!isNew), "doc_id", "text"),
      "doc_id", 16, 4)
    val cand = NearDup.incrementalCandidates(newKeys, idxKeys, "doc_id")
    graft.audit.PlanGuard.assertNoCartesian(cand)
    // budget: batch self-join exchange + its distinct, bipartite-side
    // distinct, union distinct — the INDEX subtree adds none (its join
    // is the broadcast of the batch keys; a sort-merge regression here
    // would shuffle the whole corpus index daily and trip this pin)
    cand.collect()
    graft.audit.PlanGuard.assertMaxExchanges(cand, 5)
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"index join is not broadcast:\n${plan.take(2000)}")
  }

  test("prefixFilterPairs equals the brute-force shingle-Jaccard pair set") {
    // corpus with planted near-dups at several edit depths plus noise
    val texts = (1L to 40L).map { i =>
      val words = (0 until 20).map(j => s"w${(i * 7 + j * 3) % 13}_$j")
      (i, words.mkString(" "))
    } ++ Seq(
      (101L, "a b c d e f g h i j k l m n o p q r s t"),
      (102L, "a b c d e f g h i j k l m n o p q r s t"),   // exact dup
      (103L, "a b c d e f g h i j k l m n o p q r s X"),   // 1 token off
      (104L, "a b c X e f g h i j k l m n o p q r s t"))   // 1 token off
    val df = texts.toDF("doc_id", "text")
    val t = 0.6
    val got = NearDup.prefixFilterPairs(df, "doc_id", "text",
      threshold = t, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: every ordered pair through the same verify measure
    val ids = df.select("doc_id").collect().map(_.getLong(0))
    val allPairs = (for {
      a <- ids; b <- ids if a < b
    } yield (a, b)).toSeq.toDF("id1", "id2")
    val expected = NearDup.gramJaccardVerify(allPairs, df, "doc_id",
      "text", 3).filter(col("jaccard") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "planted near-dups must verify")
    assert(got == expected)
  }

  test("portable minhash: deterministic across layouts, sound pairs, " +
    "finds the fixture's near-dups") {
    val corpus = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    // signatures are pure integer folds — bit-identical on any layout
    val s1 = NearDup.minhashSignatures(corpus.repartition(7),
        "doc_id", "text", k = 16)
      .as[(Long, Seq[Long])].collect().toSet
    val s2 = NearDup.minhashSignatures(corpus.coalesce(1),
        "doc_id", "text", k = 16)
      .as[(Long, Seq[Long])].collect().toSet
    assert(s1 == s2 && s1.nonEmpty)
    // every emitted pair really clears the threshold (soundness is
    // exact — the verify step is the true shingle Jaccard), and the
    // template-heavy fixture corpus must yield pairs (recall smoke)
    val pairs = NearDup.nearDupPairs(corpus, "doc_id", "text",
        threshold = 0.5, k = 16, bands = 4)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(p => p._3 >= 0.5 && p._1 < p._2))
  }
}
