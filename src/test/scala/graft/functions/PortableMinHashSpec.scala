package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class PortableMinHashSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Reference implementation of the same formula, in plain Scala. */
  private def expected(tokens: Seq[String], k: Int, shingleN: Int): Seq[Long] = {
    val (a, b) = PortableMinHash.constants(k)
    val m = PortableMinHash.Mod
    val th = tokens.map(RollingHash.hash)
    val windows = th.length - shingleN + 1
    if (windows <= 0) return Seq.empty
    val mins = Array.fill(k)(Long.MaxValue)
    for (w <- 0 until windows) {
      var s = 0L
      for (g <- 0 until shingleN) s = (s * 31L + th(w + g)) % m
      for (i <- 0 until k) {
        val v = (a(i) * s + b(i)) % m
        if (v < mins(i)) mins(i) = v
      }
    }
    mins.toSeq
  }

  test("codegen path matches the reference formula; short docs empty") {
    val df = Seq(Seq("a", "b", "c", "d"), Seq("x", "y")).toDF("toks")
    val out = df.select(PortableMinHash.minima($"toks", 8, 3).as("sig"))
      .as[Seq[Long]].collect()
    assert(out(0) == expected(Seq("a", "b", "c", "d"), 8, 3))
    assert(out(1) == Seq.empty) // < shingleN tokens → no shingles
  }

  test("interpreted (non-codegen) path agrees with codegen") {
    val df = Seq(Seq("a", "b", "c", "d", "e")).toDF("toks")
    val withCodegen = df.select(PortableMinHash.minima($"toks", 16, 3))
      .as[Seq[Long]].collect().head
    val prev = spark.conf.getOption("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.select(PortableMinHash.minima($"toks", 16, 3))
        .as[Seq[Long]].collect().head
      assert(withCodegen == interpreted)
    } finally prev.foreach(spark.conf.set("spark.sql.codegen.wholeStage", _))
  }

  test("identical token sequences agree; permuted ones differ") {
    val df = Seq(
      (1L, Seq("w1", "w2", "w3", "w4")),
      (2L, Seq("w1", "w2", "w3", "w4")),
      (3L, Seq("w4", "w3", "w2", "w1"))).toDF("id", "toks")
    val sigs = df.select($"id", PortableMinHash.minima($"toks", 16, 3).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("SQL surface: graft_minhash_portable usable from spark.sql") {
    Seq((1L, "the quick brown fox jumps over")).toDF("id", "text")
      .createOrReplaceTempView("pmh_docs")
    val out = spark.sql(
      """SELECT id, graft_minhash_portable(split(text, '\\s+'), 4, 3) AS sig
        |FROM pmh_docs""".stripMargin)
      .select("sig").as[Seq[Long]].collect().head
    assert(out == expected("the quick brown fox jumps over".split(" ").toSeq, 4, 3))
  }

  test("null semantics: null array -> null") {
    val df = Seq((1, Seq("a", "b", "c")), (2, null: Seq[String]))
      .toDF("id", "toks")
    val out = df.select($"id", PortableMinHash.minima($"toks", 4, 3).as("sig"))
      .orderBy("id").collect()
    assert(out(0).getSeq[Long](1) == expected(Seq("a", "b", "c"), 4, 3))
    assert(out(1).isNullAt(1))
  }
}
