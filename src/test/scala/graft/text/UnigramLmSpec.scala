package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.TestSpark
import graft.functions.UnigramSegment

class UnigramLmSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def seg(word: String, vocab: Map[String, Long],
                  maxLen: Int = 4): Option[Seq[String]] = {
    val e = UnigramSegment(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), vocab, maxLen)
    Option(e.segment(UTF8String.fromString(word)))
      .map(_.toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq)
  }

  test("viterbi picks the max-cost path; exact ties go lexicographic") {
    // "abc": 'abc' (-10) beats 'ab'+'c' (-6-6=-12) and chars (-18)
    val v = Map("a" -> -6L, "b" -> -6L, "c" -> -6L, "ab" -> -6L,
      "abc" -> -10L)
    assert(seg("abc", v).get == Seq("abc"))
    // exact tie: 'ab c' = -12 vs 'a bc' = -12 → "a bc" < "ab c"
    val tie = Map("a" -> -6L, "b" -> -6L, "c" -> -6L, "ab" -> -6L,
      "bc" -> -6L)
    assert(seg("abc", tie).get == Seq("a", "bc"))
    // uncoverable word → null
    assert(seg("xyz", v).isEmpty)
    // maxPieceLen caps candidates even when the vocab has longer pieces
    assert(seg("abc", v ++ Map("abc" -> 0L), maxLen = 2).get
      != Seq("abc"))
  }

  test("codegen path equals direct eval") {
    val v = Map("a" -> -3L, "b" -> -5L, "ab" -> -4L, "ba" -> -4L)
    val words = Seq("ab", "ba", "aab", "abab").toDF("word")
    val viaDf = words
      .select(col("word"), UnigramSegment.of(col("word"), v, 4).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    Seq("ab", "ba", "aab", "abab").foreach { w =>
      assert(viaDf(w) == seg(w, v).get, s"word $w")
    }
  }

  test("codegen compiles over a non-nullable column (no interpreted fallback)") {
    // spark.range ids are non-nullable, so the word column is too; the
    // uncoverable "ab3" still yields null, which the generated code can
    // only store when the expression declares itself nullable
    val v = Map("a" -> -3L, "b" -> -5L, "ab" -> -4L, "0" -> -1L,
      "1" -> -1L, "2" -> -1L)
    val words = spark.range(4)
      .select(concat(lit("ab"), col("id").cast("string")).as("word"))
    assert(!words.schema("word").nullable)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = words
        .select(col("word"), UnigramSegment.of(col("word"), v, 4).as("s"))
        .collect().map(r => r.getString(0) -> Option(r.getSeq[String](1)))
        .toMap
      Seq("ab0", "ab1", "ab2", "ab3").foreach { w =>
        assert(got(w) == seg(w, v), s"word $w")
      }
      assert(got("ab3").isEmpty)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.codegen.fallback", p)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("training: scores sharpen toward pieces the viterbi actually uses") {
    val docs = Seq((1L, "abab abab cd cd cd ab")).toDF("doc_id", "text")
    val out = Vocab.unigramLmTrain(docs, "doc_id", "text",
      maxPieceLen = 4, minCount = 2, iters = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    // coverage: every single char of the corpus is in the vocab
    Seq("a", "b", "c", "d").foreach(c => assert(out.contains(c)))
    // 'abab' and 'cd' dominate their words' segmentations: the final
    // counts concentrate there and unused overlaps drop to zero
    assert(out("abab")._1 == 2L)
    assert(out("cd")._1 == 3L)
    assert(out("ab")._1 == 1L)
    // a piece never chosen by the final viterbi has count 0 but keeps
    // a (smoothed) score
    assert(out("ba")._1 == 0L)
    // scores are log-probs in nanos: more frequent ⇒ strictly greater
    assert(out("cd")._2 > out("ba")._2)
  }

  test("training: an over-sized seed fails loudly, never OOMs the driver") {
    // the enforced vocabulary-size contract: the seed collect is
    // bounded by limit(maxSeedPieces + 1), so an over-cap seed raises
    // a clear error instead of collecting unbounded rows
    val docs = Seq((1L, "abab abab cd cd cd ab")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Vocab.unigramLmTrain(docs, "doc_id", "text",
        maxPieceLen = 4, minCount = 2, iters = 1, maxSeedPieces = 3)
    }
    assert(e.getMessage.contains("maxSeedPieces"))
  }

  test("segmentation face replays the trained scores") {
    val docs = Seq((1L, "abab abab cd cd cd ab")).toDF("doc_id", "text")
    val scores = Vocab.unigramLmTrain(docs, "doc_id", "text",
      maxPieceLen = 4, minCount = 2, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val segd = Vocab.unigramSegmentWords(docs, "text", scores, 4)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getString(2))).toMap
    assert(segd("abab") == ((2L, "abab")))
    assert(segd("cd") == ((3L, "cd")))
    assert(segd("ab") == ((1L, "ab")))
  }
}
