package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class IvfPqSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // 60 deterministic 16-dim vectors; ids 1..60
  private def vec(s: Long): Seq[Float] =
    (0 until 16).map(i => math.sin(s * 13.0 + i * 5.0).toFloat)
  private val all = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
  private val base = all.filter(col("id") % 5 =!= 0)
  private val batch = all.filter(col("id") % 5 === 0)
  private val queries = all.filter(col("id") <= 3)

  test("build + applyDelta + probe == one-shot ivfPqTopK under the same codebooks") {
    // the lifecycle contract: a batch encoded TODAY under the frozen
    // codebooks is bit-identical to encoding it at build time, so the
    // state-backed probe reproduces the one-shot path trained on base
    val coarseCb = Pq.pqTrain(base, "id", "v", m = 1, k = 8)
    val pqCb = Pq.pqTrain(base, "id", "v", m = 4, k = 8)
    val oneShot = Pq.ivfPqTopK(all, queries, "id", "v", coarseCb, pqCb,
      nprobe = 3, topK = 4).as[(Long, Long, Int)].collect().toSet

    val st0 = IvfPq.build(base, "id", "v", nlist = 8, m = 4, k = 8)
    val st1 = IvfPq.applyDelta(st0, batch, "id", "v")
    val got = IvfPq.probe(st1, queries, "id", "v", nprobe = 3, topK = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == oneShot && got.nonEmpty)
  }

  test("state round-trips parquet bit-exactly: probe identical after reload") {
    val st0 = IvfPq.build(base, "id", "v", nlist = 8, m = 4, k = 8)
    val st1 = IvfPq.applyDelta(st0, batch, "id", "v")
    val before = IvfPq.probe(st1, queries, "id", "v", nprobe = 3, topK = 4)
      .as[(Long, Long, Int)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("ivfpq_state")
      .toString
    try {
      st1.coarse.write.parquet(s"$dir/coarse")
      st1.codebook.write.parquet(s"$dir/codebook")
      st1.codes.write.parquet(s"$dir/codes")
      val loaded = IvfPq.State(
        spark.read.parquet(s"$dir/coarse"),
        spark.read.parquet(s"$dir/codebook"),
        spark.read.parquet(s"$dir/codes"))
      val after = IvfPq.probe(loaded, queries, "id", "v",
        nprobe = 3, topK = 4).as[(Long, Long, Int)].collect().toSet
      assert(after == before && after.nonEmpty)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("applyDelta touches ONLY the batch: codes append m rows per vector") {
    val st0 = IvfPq.build(base, "id", "v", nlist = 8, m = 4, k = 8)
    val baseCodes = st0.codes.as[(Long, Long, Long, Long)].collect().toSet
    val st1 = IvfPq.applyDelta(st0, batch, "id", "v")
    val afterCodes = st1.codes.as[(Long, Long, Long, Long)].collect().toSet
    // old rows byte-identical, new rows = m per batch vector, and the
    // codebook tables are the SAME frames (nothing retrained)
    assert(baseCodes.subsetOf(afterCodes))
    assert(afterCodes.size == baseCodes.size + 4 * batch.count())
    assert(st1.coarse eq st0.coarse)
    assert(st1.codebook eq st0.codebook)
    // staged rows carry only batch ids
    val newIds = (afterCodes -- baseCodes).map(_._1)
    assert(newIds == (5L to 60L by 5L).toSet)
  }

  test("an incomplete state table is rejected loudly") {
    val st0 = IvfPq.build(base, "id", "v", nlist = 8, m = 4, k = 8)
    val broken = IvfPq.State(st0.coarse.filter(col("j") =!= 3),
      st0.codebook, st0.codes)
    intercept[IllegalArgumentException] {
      IvfPq.probe(broken, queries, "id", "v", nprobe = 3, topK = 4)
    }
  }
}
