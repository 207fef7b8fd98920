package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class TextOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String) =
    Seq(text).toDF("t").select(c.as("r")).collect().head

  test("tokenCount and avgWordLen") {
    assert(one(TextOps.tokenCount(col("t")), "a bb ccc").getLong(0) == 3L)
    assert(one(TextOps.avgWordLen(col("t")), "a bb ccc").getDouble(0) == 2.0)
  }

  test("tokens split on runs of ANY whitespace, matching the oracle regex") {
    // Every oracle tokenizes with regexp_split_to_array(text, '\s+');
    // the engine uses split(text, "\\s+"). This fixture holds the messy
    // cases the generated (single-spaced) corpus never exercises — tabs,
    // newlines, CR, double spaces, a leading separator — and pins the
    // exact token vector both regexes produce, so a corpus change can't
    // silently diverge engine from oracle. Java \s == [ \t\n\x0B\f\r]
    // == RE2 [[:space:]], and both engines keep leading/trailing empty
    // fields at limit -1, so the vectors are identical by construction.
    val messy = "a  b\tc\nd\r\ne \t f"
    assert(one(TextOps.tokens(col("t")), messy).getSeq[String](0) ==
      Seq("a", "b", "c", "d", "e", "f"))
    assert(one(TextOps.tokenCount(col("t")), messy).getLong(0) == 6L)
    // leading whitespace yields a leading empty token in BOTH engines
    // (regex split keeps the empty field before a leading separator)
    assert(one(TextOps.tokens(col("t")), " x y").getSeq[String](0) ==
      Seq("", "x", "y"))
  }

  test("hitCountToks / wordRatioToks") {
    val text = "the quick the lazy elephant"
    val toks = TextOps.tokens(col("t"))
    assert(one(TextOps.hitCountToks(toks, Seq("the")), text).getLong(0) == 2L)
    assert(one(TextOps.wordRatioToks(toks, Seq("the")), text).getDouble(0) == 0.4)
  }

  test("shingles: n-grams of tokens; short docs collapse to one shingle") {
    val sh = one(TextOps.shingles(TextOps.tokens(col("t")), 3), "a b c d")
      .getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val short = one(TextOps.shingles(TextOps.tokens(col("t")), 3), "a b")
      .getSeq[String](0)
    assert(short == Seq("a b"))
  }

  test("fingerprint: deterministic, order-sensitive rolling hash") {
    val f1 = one(TextOps.fingerprint(col("t")), "ab c").getLong(0)
    val f1b = one(TextOps.fingerprint(col("t")), "ab c").getLong(0)
    val f2 = one(TextOps.fingerprint(col("t")), "ba c").getLong(0)
    assert(f1 == f1b && f1 != f2)
    // hand-rolled expectation for "ab": ((0*31+97)%M)*31+98 % M
    val exp = (97L * 31 + 98) % 1000000007L
    assert(one(TextOps.fingerprint(col("t")), "ab").getLong(0) == exp)
  }

  test("langId: argmax with deterministic tie order") {
    val df = Seq("the cat and the hat", "le chat et les chats", "zzz qqq")
      .toDF("text")
    val out = df
      .select((col("text") +: TextOps.langScoresToks(TextOps.tokens(col("text")))): _*)
      .withColumn("predicted_lang", TextOps.langIdFromScores)
      .select("predicted_lang").as[String].collect()
    assert(out(0) == "en")
    assert(out(1) == "fr")
    assert(out(2) == "en") // all-zero scores: first lang in priority order
  }

  test("chunkRows: sliding windows cover every token, no trailing fragment") {
    // 10 tokens, chunk 4, stride 3 -> starts 0,3,6 (1 + ceil(6/3) = 3
    // chunks); the last chunk reaches the end and is the only short one
    val df = Seq((7L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val got = TextOps.chunkRows(df, "doc_id", "text", 4, 3)
      .orderBy("chunk_idx")
      .select("doc_id", "chunk_idx", "chunk_text", "chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (7L, 0L, "t0 t1 t2 t3", 4L),
      (7L, 1L, "t3 t4 t5 t6", 4L),
      (7L, 2L, "t6 t7 t8 t9", 4L)))
    // 11 tokens: starts 0,3,6,9 — last chunk is the 2-token tail
    val df2 = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")).toDF("doc_id", "text")
    val tail2 = TextOps.chunkRows(df2, "doc_id", "text", 4, 3)
      .orderBy(col("chunk_idx").desc).limit(1)
      .select("chunk_text", "chunk_tokens").collect().head
    assert(tail2.getString(0) == "t9 t10" && tail2.getLong(1) == 2L)
  }

  test("chunkRows: short docs are one whole-doc chunk; stride == chunk tiles") {
    val df = Seq((1L, "a b"), (2L, "x")).toDF("doc_id", "text")
    val got = TextOps.chunkRows(df, "doc_id", "text", 8, 8)
      .select("doc_id", "chunk_idx", "chunk_text", "chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set((1L, 0L, "a b", 2L), (2L, 0L, "x", 1L)))
    // stride == chunkTokens: disjoint tiling, 9 tokens / 4 -> 3 chunks
    val df3 = Seq((3L, "a b c d e f g h i")).toDF("doc_id", "text")
    val tiles = TextOps.chunkRows(df3, "doc_id", "text", 4, 4)
      .orderBy("chunk_idx").select("chunk_text").as[String].collect()
    assert(tiles.toSeq == Seq("a b c d", "e f g h", "i"))
  }

  test("lexicalStats: entropy 0 for one-word spam, ln 2 for a fair pair") {
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),       // 1 type / 4 tokens, H = 0
      (2L, "alpha beta"),                // H = ln 2 exactly
      (3L, "a a b")                      // H = 2/3 ln(3/2) + 1/3 ln 3
    ).toDF("doc_id", "text")
    val got = TextOps.lexicalStats(df, "doc_id", "text")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((4L, 1L, 250000L, 0.0)))
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(2L)._1 == 2L && got(2L)._2 == 2L && got(2L)._3 == 1000000L)
    assert(got(2L)._4 == ln2)
    // replay the operator's own arithmetic: per-term 9dp-rounded ln
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val h3 = r9((2.0 / 3) * r9(math.log(3.0 / 2)) +
      (1.0 / 3) * r9(math.log(3.0)))
    assert(math.abs(got(3L)._4 - h3) < 2e-9)
    assert(got(3L)._3 == 666666L, "exact floor ppm, not a rounded double")
    // the ordering that makes it a quality signal
    assert(got(1L)._4 < got(3L)._4 && got(3L)._4 < got(2L)._4 * 2)
  }
}
