package graft.text

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SpanDedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // doc 1 and 2 share the 4-token run "a b c d" (plus nothing else);
  // doc 3 is fully unique; doc 4 is too short for any 3-gram; doc 5
  // duplicates a 3-gram only WITHIN itself (must not count as covered)
  private def docs = Seq(
    (1L, "a b c d x y z"),        // 7 tokens
    (2L, "q r a b c d s"),        // 7 tokens
    (3L, "u v w k l m"),          // 6 tokens, unique
    (4L, "t u"),                  // 2 tokens, no 3-gram
    (5L, "p p p p p q7 q8 q9")    // "p p p" repeats only inside doc 5
  ).toDF("doc_id", "text")

  test("coverage counts exactly the positions under cross-doc shared n-grams") {
    val out = SpanDedup.spanDupCoverage(docs, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // docs 1: shared 3-grams with doc 2 are "a b c" (pos 0) and
    // "b c d" (pos 1) -> covered positions 0..3 = 4 of 7
    assert(out(1L) == ((7L, 4L, 4.0 / 7)))
    // doc 2: same grams at pos 2 and 3 -> positions 2..5 = 4 of 7
    assert(out(2L) == ((7L, 4L, 4.0 / 7)))
    assert(out(3L) == ((6L, 0L, 0.0)))   // unique doc still reported
    assert(out(4L) == ((2L, 0L, 0.0)))   // too short for any window
    // within-doc repetition is NOT cross-doc duplication
    assert(out(5L) == ((8L, 0L, 0.0)))
  }

  test("exciseDupSpans removes shared spans everywhere but the owning doc") {
    val out = SpanDedup.exciseDupSpans(docs, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 owns the shared "a b c d" run (lowest id) and keeps it all
    assert(out(1L) == ((7L, 7L, "a b c d x y z")))
    // doc 2 loses positions 2..5 (the shared windows), keeps the rest
    assert(out(2L) == ((7L, 3L, "q r s")))
    // untouched docs round-trip token-normalized
    assert(out(3L) == ((6L, 6L, "u v w k l m")))
    assert(out(4L) == ((2L, 2L, "t u")))
    assert(out(5L) == ((8L, 8L, "p p p p p q7 q8 q9")))
    // a doc whose every position is covered rewrites to the empty string
    val blanket = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e")).toDF("doc_id", "text")
    val b = SpanDedup.exciseDupSpans(blanket, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(b(1L) == ((1L, 5L, 5L, "a b c d e")))
    assert(b(2L) == ((2L, 5L, 0L, "")))
    graft.audit.PlanGuard.assertNoCartesian(
      SpanDedup.exciseDupSpans(docs, "doc_id", "text", n = 3))
  }
}
