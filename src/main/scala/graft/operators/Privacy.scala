package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Re-identification risk audit for training-data releases — the check
  * a pipeline runs before shipping user-derived rows to a training
  * corpus (the complement of [[graft.text.Pii]], which scrubs content;
  * this measures what the STRUCTURE still leaks). Sweeney's
  * k-anonymity: every combination of quasi-identifier values must be
  * shared by at least `k` rows, else those rows are linkable against
  * an external table carrying the same quasi-identifiers. Machanavajjhala's
  * l-diversity strengthens it: a k-anonymous group whose SENSITIVE
  * column holds fewer than `l` distinct values still discloses the
  * sensitive value (everyone in the group shares it).
  *
  * One groupBy on the quasi-identifier tuple — map-side combinable,
  * group-cardinality-sized output, no second shuffle: `count_distinct`
  * over the sensitive column rides the same aggregate. At 100 TB this
  * is the cheapest shape the question has; the report is one row per
  * EQUIVALENCE CLASS (not per input row), so the output stays
  * bounded by the quasi-identifier domain.
  */
object Privacy {

  /** Per-equivalence-class audit: quasi-identifier values, class size
    * `n`, distinct sensitive values `l_distinct`, and the two verdicts
    * (`k_anonymous`, `l_diverse`). Generalize coarse columns (bins,
    * truncated dates) in `quasiIds` expressions BEFORE calling — the
    * classic fix for a failing audit is coarser quasi-identifiers.
    */
  def kAnonymityReport(df: DataFrame, quasiIds: Seq[(String, Column)],
                       sensitive: Column, k: Int = 5, l: Int = 2)
      : DataFrame = {
    require(quasiIds.nonEmpty, "need at least one quasi-identifier")
    require(k >= 1, s"k must be >= 1, got $k")
    require(l >= 1, s"l must be >= 1, got $l")
    df.groupBy(quasiIds.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("n"),
        count_distinct(sensitive).as("l_distinct"))
      .withColumn("k_anonymous", col("n") >= k)
      .withColumn("l_diverse", col("l_distinct") >= l)
  }
}
