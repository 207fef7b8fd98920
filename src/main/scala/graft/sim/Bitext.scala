package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-lingual bitext mining — the embedding-space alignment step
  * that builds parallel corpora from unaligned multilingual crawl
  * (Artetxe & Schwenk 2019, "Margin-based Parallel Corpus Mining";
  * the CCMatrix/LASER recipe). Absolute cosine is a poor match
  * signal (hub vectors are close to everything), so each candidate
  * pair is scored by its RATIO margin: cosine over the mean cosine
  * of each endpoint's k nearest neighbors on the other side. A hub's
  * neighborhood mean is high, deflating all its margins; a true
  * translation pair stands out from both endpoints' neighborhoods.
  *
  * Engine-portable arithmetic (the q114/q141 discipline): cosines
  * are computed by the native sequential-fold [[graft.functions.ArrayDot]]
  * (bit-replayable in SQL), rounded to 9 dp at the pair level;
  * neighborhood means ride DECIMAL(18,6) (graft.Exprs.davg) so they
  * are order-independent; the margin itself is rounded to 6 dp and
  * the top-1 pick orders by THAT rounded value with an id tiebreak —
  * every comparison either engine makes is over identical doubles.
  *
  * Scale shape: [[mine]] is the brute bipartite baseline — the
  * |src|×|tgt| candidate product is the quadratic object, correct at
  * eval/probe scale and the recall yardstick. [[mineLsh]] is the
  * corpus-scale path: candidates confined to multi-table SRP-LSH
  * bucket collisions (`Similarity.lshKeyed` — the q136/q223
  * machinery, portable planes), so the pair table is Σ per-bucket
  * products, never the full bipartite product; neighborhood means are
  * then taken over the surviving candidates (standard practice — the
  * margin denominator only needs the NEAR neighborhood, which is
  * exactly what LSH retains). Both paths keep every window partitioned by an
  * endpoint id — nothing global, nothing single-task.
  */
object Bitext {

  /** Margin-scored best match per source vector:
    * `(src_id, tgt_id, margin)` — the argmax-margin target for each
    * source, margin = cos / ((meanₖ(src side) + meanₖ(tgt side))/2),
    * rounded to 6 dp. `k` bounds each endpoint's neighborhood mean.
    */
  def mine(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
           k: Int): DataFrame = {
    val s = src.select(col(idCol).as("src_id"),
      Similarity.toDouble(col(vecCol)).as("__sv"))
    val t = tgt.select(col(idCol).as("tgt_id"),
      Similarity.toDouble(col(vecCol)).as("__tv"))
    val pairs = s.crossJoin(t).select(col("src_id"), col("tgt_id"),
      round(Similarity.cosine(col("__sv"), col("__tv")), 9).as("c"))
    marginTop1(pairs, k)
  }

  /** LSH-confined variant: candidate pairs are bucket collisions in
    * any of `tables` SRP tables (recall amplification — a true pair
    * only needs ONE collision), margins computed over the surviving
    * neighborhood. Same output shape as [[mine]]; sources with no
    * collision at all drop out (no candidates ⇒ no match claim).
    */
  def mineLsh(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
              k: Int, bits: Int, dim: Int, tables: Int): DataFrame = {
    val s = Similarity.lshKeyed(src, Seq(col(idCol).as("src_id")), vecCol,
      "__sv", bits, dim, tables, keyAs = "__key")
    val t = Similarity.lshKeyed(tgt, Seq(col(idCol).as("tgt_id")), vecCol,
      "__tv", bits, dim, tables, keyAs = "__key")
    val cand = s.join(t.select("tgt_id", "__tv", "__key"), Seq("__key"))
      .select("src_id", "tgt_id", "__sv", "__tv")
      .dropDuplicates("src_id", "tgt_id")
    marginTop1(cand.select(col("src_id"), col("tgt_id"),
      round(Similarity.cosine(col("__sv"), col("__tv")), 9).as("c")), k)
  }

  /** Shared margin machinery over a `(src_id, tgt_id, c)` candidate
    * table: per-endpoint top-k neighborhood means (decimal-summed,
    * so partition order never shows), ratio margin, top-1 per source
    * by (rounded margin desc, tgt_id).
    */
  private def marginTop1(pairs: DataFrame, k: Int): DataFrame = {
    val p = pairs.localCheckpoint(true) // read 3× below (q213 contract)
    val bySrc = Window.partitionBy("src_id").orderBy(col("c").desc, col("tgt_id"))
    val byTgt = Window.partitionBy("tgt_id").orderBy(col("c").desc, col("src_id"))
    val ms = p.withColumn("__rn", row_number().over(bySrc))
      .filter(col("__rn") <= k).groupBy("src_id")
      .agg(graft.Exprs.davg(col("c")).as("__ms"))
    val mt = p.withColumn("__rn", row_number().over(byTgt))
      .filter(col("__rn") <= k).groupBy("tgt_id")
      .agg(graft.Exprs.davg(col("c")).as("__mt"))
    val scored = p.join(ms, Seq("src_id")).join(mt, Seq("tgt_id"))
      .select(col("src_id"), col("tgt_id"),
        round(col("c") / ((col("__ms") + col("__mt")) / lit(2.0)), 6)
          .as("margin"))
    val best = Window.partitionBy("src_id")
      .orderBy(col("margin").desc, col("tgt_id"))
    scored.withColumn("__rk", row_number().over(best))
      .filter(col("__rk") === 1)
      .select("src_id", "tgt_id", "margin")
  }
}
