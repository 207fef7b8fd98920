package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Leakage-safe categorical target encoding — the feature-engineering
  * standard for high-cardinality categoricals: replace a category with
  * the mean of the target over OTHER rows of the same category
  * (leave-one-out), optionally smoothed toward the global prior. A
  * plain per-category mean leaks each row's own label into its
  * feature; LOO is the training-time-correct form.
  *
  * Shape: one small per-category aggregate (rows = cardinality)
  * broadcast back into a projection over the fact table, plus a one-row
  * global aggregate — the encode itself never shuffles the facts.
  * Determinism: category and global sums run through the exact-decimal
  * accumulator, so every per-row quotient has bit-identical operands
  * on any engine or partitioning.
  */
object TargetEncode {

  /** Per-row leave-one-out encoding of `catCol` against `targetCol`,
    * plus a smoothed variant pulling toward the global mean with
    * pseudo-count `smoothing`. Singleton categories get null LOO (no
    * other rows to average) and the prior-dominated smoothed value.
    */
  def leaveOneOut(df: DataFrame, idCol: String, catCol: String,
                  targetCol: String, smoothing: Double = 10.0)
      : DataFrame = {
    val cat = df.groupBy(col(catCol)).agg(
      graft.Exprs.dsum(col(targetCol)).as("__cs"),
      count(col(targetCol)).as("__cn"))
    val glob = df.agg(
      graft.Exprs.dsum(col(targetCol)).as("__gs"),
      count(col(targetCol)).as("__gn"))
    val prior = col("__gs") / col("__gn")
    val looNum = col("__cs") - col(targetCol)
    val looDen = (col("__cn") - 1).cast("double")
    df.select(col(idCol), col(catCol), col(targetCol))
      .join(broadcast(cat), Seq(catCol))
      .crossJoin(broadcast(glob))
      .select(col(idCol), col(catCol),
        when(col("__cn") > 1, looNum / looDen).as("loo_encoding"),
        ((looNum + lit(smoothing) * prior) /
          (looDen + lit(smoothing))).as("loo_smoothed"))
  }

  /** Empirical-CDF transform of a numeric column — quantile
    * normalization in exact integer parts-per-million: identical
    * values share the MIN rank (so the transform is a function of the
    * value, ties or not), `cdf_ppm = (rank-1)·1e6 div (n-1)`, mapping
    * min→0 and max→1e6. Min-ranks come from [[Ranks.minRankOfCounts]]'s
    * bucketed two-pass scheme (exact, no single-partition window even
    * when the column is near-unique — the r09 degenerate case), the
    * row total from a one-row aggregate, and the rank table joins back
    * on the value — AQE picks broadcast when the distinct set is
    * small. A truly near-unique column still pays a rank table the
    * size of the input; when approximate quantiles suffice, prefer
    * [[Sketches.histogramQuantiles]] cut points.
    */
  def cdfTransform(df: DataFrame, idCol: String, valueCol: String)
      : DataFrame = {
    val nn = df.filter(col(valueCol).isNotNull)
    val nRow = nn.agg(count(lit(1)).as("__n"))
    // Checkpoint the (distinct-value, count) table before ranking:
    // minRankOfCounts references it three times (sketch, counts, join —
    // under broadcast subqueries, outside AQE exchange reuse), and each lazy
    // reference would re-run the fact-table groupBy. The table is
    // distinct-value-sized, so the checkpoint itself is tiny.
    val vals = nn.groupBy(col(valueCol)).agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val ranked = Ranks.minRankOfCounts(vals, valueCol, "__c",
        ascending = true, out = "__rank")
      .crossJoin(broadcast(nRow))
      .select(col(valueCol),
        when(col("__n") > 1,
          expr("(__rank - 1) * 1000000L div (__n - 1)"))
          .otherwise(lit(0L)).as("cdf_ppm"))
    df.select(col(idCol), col(valueCol))
      .join(ranked, Seq(valueCol), "left")
  }
}
