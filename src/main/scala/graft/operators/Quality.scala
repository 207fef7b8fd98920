package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality predicates (reference §2.3 V1-V12: inline validators in
  * ingestion/dummyjson_ingestor.py:126-236, fakestore_ingestor.py:100-163,
  * randomuser_ingestor.py:104-192, database/layers/bronze/validator.py:15-63
  * and the SQL suite database/layers/quality/quality_checks.py:21-78).
  *
  * Spark-first design difference: the reference issues one SQL query per
  * check per table. Here the per-row predicates for a table fold into
  * ONE aggregation pass (`sum(when(...))` columns, [[violations]]) and
  * the PK suite into one grouped pass per table ([[suite]]) — a single
  * scan regardless of how many checks run, which is the difference
  * between 1× and N× table reads at 100 TB. Schema checks never touch
  * data.
  */
object Quality {

  final case class CheckResult(table: String, check: String, violations: Long, passed: Boolean)

  /** Violation-count column for a per-row predicate: rows where `bad`. */
  def violations(bad: Column, name: String): Column =
    coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L)).as(name)

  // ---- the reference's predicate vocabulary ------------------------------

  /** V9/V12: null in a required column. */
  def nullCheck(c: String): Column = violations(col(c).isNull, s"null_$c")

  /** V5: negativity on a numeric column (price/total/age ≥ 0). */
  def negativeCheck(c: String): Column = violations(col(c) < 0, s"negative_$c")

  /** V6: upper range bound (reference: age ≤ 150). */
  def rangeCheck(c: String, max: Double): Column = violations(col(c) > max, s"range_$c")

  /** V7: domain membership (reference: gender ∈ {male,female}). */
  def domainCheck(c: String, allowed: Seq[String]): Column =
    violations(col(c).isNotNull && !col(c).isin(allowed: _*), s"domain_$c")

  /** V8: format regex (reference email regex, randomuser_ingestor.py:543-546). */
  def formatCheck(c: String, regex: String): Column =
    violations(col(c).isNotNull && !col(c).rlike(regex), s"format_$c")

  /** V3/V10: duplicate-key groups (GROUP BY/HAVING count>1). Returns
    * (key..., dup_count) — one shuffle on the key with partial aggregation.
    */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** V2: required columns present — pure schema check, no job. */
  def requiredColumns(df: DataFrame, table: String, required: Seq[String]): CheckResult = {
    val missing = required.filterNot(df.columns.contains)
    CheckResult(table, "required_columns", missing.size.toLong, missing.isEmpty)
  }

  /** V11: table-driven check suite (reference quality_checks.py:52-78 —
    * a PK map per table driving null + duplicate checks). Per table, in
    * this order:
    *   - `non_empty` (V1): 1 for a table with no rows;
    *   - `required_columns` (V2): the PKs missing from the schema;
    *   - `null_<pk>` (V9) for each PK: rows whose key is NULL;
    *   - `unique_<pk>` (V3) for each PK: key values, NULL included,
    *     that more than one row holds ([[duplicateKeys]]' groups).
    *
    * One pass per table, not one query per check like the reference:
    * a grouping-sets aggregate counts the rows of every value of every
    * PK in one shuffle, and one global aggregate over those groups
    * yields all the counts.
    */
  def suite(tables: Map[String, (DataFrame, Seq[String])]): Seq[CheckResult] =
    tables.toSeq.flatMap { case (name, (df, pks)) =>
      val (rows, nulls, dups) = keyStats(df, pks)
      def result(check: String, v: Long) = CheckResult(name, check, v, v == 0L)
      Seq(result("non_empty", if (rows == 0L) 1L else 0L),
        requiredColumns(df, name, pks)) ++
        pks.zip(nulls).map { case (pk, v) => result(s"null_$pk", v) } ++
        pks.zip(dups).map { case (pk, v) => result(s"unique_$pk", v) }
    }

  /** (rows, NULL-key rows per PK, duplicated key values per PK) of `df`
    * from one grouped pass. The groups of PK `i` carry the grouping id
    * of the set {pks(i)}: a 1 bit for each other PK, the first PK in the
    * highest bit. Every row lands in one group of each PK, so the rows
    * are the group sizes summed over any one PK.
    */
  private def keyStats(df: DataFrame, pks: Seq[String]): (Long, Seq[Long], Seq[Long]) =
    if (pks.isEmpty) (df.count(), Nil, Nil)
    else {
      val ids = pks.indices.map(i => (1L << pks.size) - 1 - (1L << (pks.size - 1 - i)))
      val (g, n) = (col("__g"), col("__n"))
      val stats = sum(when(g === ids.head, n)) +:
        (pks.zip(ids).map { case (pk, id) => sum(when(g === id && col(pk).isNull, n)) } ++
          ids.map(id => count(when(g === id && n > 1, 1))))
      val row = df.groupingSets(pks.map(pk => Seq(col(pk))), pks.map(col): _*)
        .agg(grouping_id().as("__g"), count(lit(1)).as("__n"))
        .agg(stats.head, stats.tail: _*).head()
      val v = stats.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
      (v.head, v.slice(1, 1 + pks.size), v.drop(1 + pks.size))
    }

  /** Quality gate: throw if any check failed (reference Airflow gate,
    * orchestration/airflow/dags/doeecommerce_batch_pipeline.py:163-179).
    */
  def gate(results: Seq[CheckResult]): Unit = {
    val failed = results.filterNot(_.passed)
    if (failed.nonEmpty)
      throw new IllegalStateException(
        "quality gate failed: " + failed.map(r => s"${r.table}.${r.check}=${r.violations}").mkString(", "))
  }

  /** Population Stability Index between two snapshots of a numeric
    * column — the standard distribution-drift monitor a daily pipeline
    * gates retraining on (PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25
    * shifted). Both sides histogram over ONE shared equi-width frame
    * (bin edges from the UNION's min/max — per-side edges would hide
    * the drift being measured) and
    * `PSI = Σ (p_i - q_i) · ln(p_i / q_i)` accumulates over the bins.
    * Cost: one min/max scan of the union + one bin-count aggregate per
    * side, `bins` counters of state, same merge-by-addition frame
    * contract as [[Sketches.histogramQuantiles]].
    *
    * Determinism: counts are exact; empty-bin shares floor at the
    * standard 0.0001 (a CASE, not an epsilon-add — exactly replayable);
    * ln is rounded at 9 dp; each bin's contribution is rounded at 9 dp
    * and the total runs in exact decimal. One row out:
    * `(psi, n_bins)` — psi is a SUM (no quotient round-tie exposure).
    */
  def psiDrift(baseline: DataFrame, current: DataFrame, valueCol: String,
               bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 10000, s"bins out of range: $bins")
    val v = col(valueCol)
    val a = baseline.filter(v.isNotNull).select(v.as("__v"), lit(0).as("__side"))
    val b = current.filter(v.isNotNull).select(v.as("__v"), lit(1).as("__side"))
    val u = a.unionByName(b)
    val st = u.agg(min(col("__v")).as("mn"), max(col("__v")).as("mx"))
    val width = (col("mx") - col("mn")) / lit(bins)
    val binned = u.crossJoin(st)
      .select(col("__side"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(floor((col("__v") - col("mn")) / width),
            lit((bins - 1).toLong))).as("bin"))
    val counts = binned.groupBy("bin")
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("cb"))
    val totals = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val p = when(col("ca") === 0, lit(0.0001))
      .otherwise(col("ca").cast("double") / col("na"))
    val q = when(col("cb") === 0, lit(0.0001))
      .otherwise(col("cb").cast("double") / col("nb"))
    counts.crossJoin(totals)
      .select(round((p - q) * round(log(p / q), 9), 9).as("__c"))
      .agg(graft.Exprs.dsum(col("__c")).as("psi"),
        count(lit(1)).as("n_bins"))
  }

  /** Column profiler — per-column null count, distinct count, min/max,
    * and modal value, the first artifact a data inventory builds.
    * ONE pass over the unpivoted (column, value) table into value-level
    * counts, then column-level stats aggregate the COUNTS (rows =
    * distinct values, not input rows); the modal value breaks count
    * ties on the value itself. Values are profiled as strings —
    * integer and string renderings are engine-identical; leave DOUBLE
    * columns out unless approximate-profile is acceptable
    * (cross-engine float→string formatting is not pinned).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val stackExpr = s"stack(${cols.size}, " +
      cols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ") +
      ") as (col_name, value)"
    val vc = df.selectExpr(stackExpr)
      .repartition(col("col_name"))
      .groupBy("col_name", "value").agg(count(lit(1)).as("__n"))
    val stats = vc.groupBy("col_name").agg(
      sum(col("__n")).as("n_rows"),
      coalesce(sum(when(col("value").isNull, col("__n"))), lit(0L))
        .as("n_nulls"),
      count(when(col("value").isNotNull, lit(1))).as("n_distinct"),
      min(col("value")).as("min_value"),
      max(col("value")).as("max_value"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("col_name")
      .orderBy(col("__n").desc, col("value").asc)
    val top = vc.filter(col("value").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("col_name"), col("value").as("top_value"),
        col("__n").as("top_count"))
    stats.join(top, Seq("col_name"), "left")
  }

  /** Exact 1-D Wasserstein-1 (earth mover's) distance between two
    * numeric distributions — the drift metric [[psiDrift]] cannot be:
    * PSI bins and loses the ORDER of the support (a mass shift of one
    * bin and of ten bins can score the same), while W₁ = ∫|F_a − F_b|
    * integrates the CDF gap over the real line, in the value's own
    * units ("average dollars each row must move"). The classic
    * formulation sorts the union — a single-task global window at
    * corpus scale; here the plan is the [[Ranks]] discipline end to
    * end: ONE fact-scale (value, side) aggregate to the distinct-value
    * table, then bucket-distributed [[Ranks.rowNumber]] +
    * [[Ranks.prefixSum]] passes over that domain-sized table, and the
    * "next value" gap via an equi-self-join on rank+1 — no global
    * sort ever materializes.
    *
    * Determinism: cumulative counts are exact longs; each segment's
    * |ΔCDF|·gap term is rounded at 9 dp and folded through the
    * exact-decimal [[graft.Exprs.dsum]]. An empty side has no CDF —
    * `w1` comes back NULL (never an ANSI divide error). Output: one
    * row `(w1, n_values, n_a, n_b)`.
    */
  def wasserstein1D(baseline: DataFrame, current: DataFrame,
                    valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val u = baseline.filter(v.isNotNull)
      .select(v.as("__v"), lit(0).as("__s"))
      .unionByName(current.filter(v.isNotNull)
        .select(v.as("__v"), lit(1).as("__s")))
    // domain-sized and read by three Ranks passes + the gap join —
    // checkpointed per the Ranks caller-checkpoints rule
    val vals = u.groupBy("__v").agg(
      sum(when(col("__s") === 0, 1L).otherwise(0L)).as("__ca"),
      sum(when(col("__s") === 1, 1L).otherwise(0L)).as("__cb"))
      .localCheckpoint(true)
    val tot = vals.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"), count(lit(1)).as("__nv"))
    val rn = Ranks.rowNumber(vals, "__v", ascending = true,
      tiebreaks = Seq.empty, out = "__rn")
    val pa = Ranks.prefixSum(vals, "__v", "__ca", out = "__pa")
      .select(col("__v"), col("__pa"))
    val pb = Ranks.prefixSum(vals, "__v", "__cb", out = "__pb")
      .select(col("__v"), col("__pb"))
    val cur = rn.join(pa, Seq("__v")).join(pb, Seq("__v"))
      .select(col("__rn"), col("__v"),
        (col("__pa") + col("__ca")).as("__cuma"),
        (col("__pb") + col("__cb")).as("__cumb"))
    val nxt = cur.select((col("__rn") - 1).as("__rn"),
      col("__v").as("__vn"))
    val w1agg = cur.join(nxt, Seq("__rn")) // last value has no segment
      .crossJoin(broadcast(tot))
      .select(when(col("__na") > 0 && col("__nb") > 0,
        round(abs(col("__cuma").cast("double") / col("__na")
          - col("__cumb").cast("double") / col("__nb"))
          * (col("__vn") - col("__v")), 9)).as("__t"))
      .agg(graft.Exprs.dsum(col("__t")).as("__w1raw"))
    // single-value support has zero segments — that IS W1 = 0; an
    // empty side keeps w1 NULL through the guard
    tot.crossJoin(w1agg).select(
      when(col("__na") > 0 && col("__nb") > 0,
        coalesce(col("__w1raw"), lit(0.0))).as("w1"),
      col("__nv").as("n_values"), col("__na").as("n_a"),
      col("__nb").as("n_b"))
  }

  /** Mutual information between two CATEGORICAL columns, in nats —
    * the dependence profiler behind feature selection and
    * quasi-identifier hunting (a high-MI pair is the linkage risk
    * [[Privacy.kAnonymityReport]] audits; a near-zero pair is a
    * feature the model can drop):
    * I(X;Y) = Σ p(x,y)·ln(p(x,y) / (p(x)·p(y))), plus the marginal
    * entropies and the normalized NMI = I / min(H(X), H(Y)) in [0, 1].
    *
    * Scale shape: ONE fact-scale map-side-combinable groupBy on
    * (x, y); marginals and totals derive from the cell counts —
    * domain-sized, never a second corpus pass. Null rows are excluded
    * (MI over observed pairs). Determinism: counts exact; every
    * ln-term rounded at 9 dp and folded through the exact-decimal
    * [[graft.Exprs.dsum]]; probabilities divide as doubles only
    * inside each single-valued term. Output: one row
    * `(mi_nats, h_x, h_y, nmi, n_cells, n)`.
    */
  def mutualInformation(df: DataFrame, x: Column, y: Column): DataFrame = {
    // cells is domain-sized and read four ways below (both marginals,
    // the total, the joined term table) — checkpoint it so the
    // fact-scale aggregate runs once (the wasserstein1D caller-
    // checkpoints rule applied where the operator owns the fan-out)
    val cells = df.filter(x.isNotNull && y.isNotNull)
      .groupBy(x.as("__x"), y.as("__y"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val xm = cells.groupBy("__x").agg(sum(col("__c")).as("__cx"))
    val ym = cells.groupBy("__y").agg(sum(col("__c")).as("__cy"))
    val tot = cells.agg(sum(col("__c")).as("__n"))
    val joined = cells.join(xm, Seq("__x")).join(ym, Seq("__y"))
      .crossJoin(broadcast(tot))
    val cD = col("__c").cast("double")
    val nD = col("__n").cast("double")
    val miTerm = round((cD / nD) *
      round(log(cD * nD / (col("__cx").cast("double") *
        col("__cy").cast("double"))), 9), 9)
    val mi = joined.select(miTerm.as("__t"), col("__n"))
      .groupBy(col("__n"))
      .agg(graft.Exprs.dsum(col("__t")).as("mi_nats"),
        count(lit(1)).as("n_cells"))
    def entropy(m: DataFrame, cnt: String): DataFrame = {
      val p = col(cnt).cast("double") / col("__n").cast("double")
      m.crossJoin(broadcast(tot))
        .select(round(-p * round(log(p), 9), 9).as("__t"))
        .agg(graft.Exprs.dsum(col("__t")).as("h"))
    }
    val hx = entropy(xm, "__cx").withColumnRenamed("h", "h_x")
    val hy = entropy(ym, "__cy").withColumnRenamed("h", "h_y")
    mi.crossJoin(hx).crossJoin(hy)
      .select(col("mi_nats"), col("h_x"), col("h_y"),
        // a constant column has entropy 0 and NMI is undefined, not
        // infinite — explicit NULL, the module's degenerate-case
        // discipline (cohenKappa, krippendorffAlpha)
        when(least(col("h_x"), col("h_y")) > 0,
          round(col("mi_nats") / least(col("h_x"), col("h_y")), 9))
          .as("nmi"),
        col("n_cells"), col("__n").as("n"))
  }

  /** Pearson chi-square test of independence + Cramér's V — the
    * hypothesis-test companion to [[mutualInformation]]'s
    * information-theoretic dependence ("ARE nation and segment
    * independent, and how big is the effect"): chi2 = Σ (observed −
    * expected)²/expected over the contingency cells, dof =
    * (|x|−1)(|y|−1), V = √(chi2 / (n·min(|x|−1, |y|−1))) — the
    * [0, 1] effect size that, unlike chi2 itself, does not grow with
    * n. Same scale shape as MI: ONE fact-scale (x, y) aggregate
    * (checkpointed — read by both marginals, the total, and the term
    * table), everything downstream domain-sized. Expected counts are
    * exact integer products divided once in double; each cell term is
    * rounded at 9 dp and folded through the exact-decimal
    * [[graft.Exprs.dsum]]. Degenerate contract: a single-valued x or
    * y has dof 0 — chi2 is 0 and V is NULL (undefined, not infinite).
    * Output: one row `(chi2, dof, n, n_x, n_y, cramers_v)`.
    */
  def chiSquareIndependence(df: DataFrame, x: Column, y: Column)
      : DataFrame = {
    val cells = df.filter(x.isNotNull && y.isNotNull)
      .groupBy(x.as("__x"), y.as("__y"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val xm = cells.groupBy("__x").agg(sum(col("__c")).as("__cx"))
    val ym = cells.groupBy("__y").agg(sum(col("__c")).as("__cy"))
    val tot = cells.agg(sum(col("__c")).as("__n"))
    val nx = xm.agg(count(lit(1)).as("n_x"))
    val ny = ym.agg(count(lit(1)).as("n_y"))
    val e = col("__cx").cast("double") * col("__cy").cast("double") /
      col("__n").cast("double")
    val term = round((col("__c").cast("double") - e) *
      (col("__c").cast("double") - e) / e, 9)
    // the full x×y grid, INCLUDING zero-observed cells (their term is
    // e, not 0 — dropping them understates the statistic): cross-join
    // the domain-sized marginals, left-join the observed cells
    val grid = xm.crossJoin(ym)
      .join(cells, Seq("__x", "__y"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
      .crossJoin(broadcast(tot))
    // ungrouped, so empty/all-NULL input still yields the documented
    // ONE row (chi2 NULL, dof 1, n NULL, n_x/n_y 0) — the same shape
    // the SQL twin's `sum(...) FROM grid CROSS JOIN tot` produces;
    // grouping by __n would emit ZERO rows on an empty grid
    val chi2 = grid.select(term.as("__t"))
      .agg(graft.Exprs.dsum(col("__t")).as("chi2"))
    chi2.crossJoin(broadcast(tot)).crossJoin(nx).crossJoin(ny).select(
      col("chi2"),
      ((col("n_x") - 1) * (col("n_y") - 1)).as("dof"),
      col("__n").as("n"), col("n_x"), col("n_y"),
      when(least(col("n_x"), col("n_y")) > 1,
        round(sqrt(col("chi2") / (col("__n").cast("double") *
          (least(col("n_x"), col("n_y")) - 1))), 9)).as("cramers_v"))
  }

  /** Functional-dependency violation detector: LHS values mapping to
    * MORE than one RHS value — the constraint profiler behind entity
    * resolution and schema inference ("same order, same customer?").
    * One aggregation on (lhs, rhs) then one on lhs; emits each
    * violating LHS with its distinct-RHS and row counts.
    */
  def fdViolations(df: DataFrame, lhs: Seq[String], rhs: String)
      : DataFrame = {
    val pairs = df.select((lhs.map(col) :+ col(rhs)): _*)
      .repartition(lhs.map(col): _*)
      .groupBy((lhs.map(col) :+ col(rhs)): _*)
      .agg(count(lit(1)).as("__n"))
    pairs.groupBy(lhs.map(col): _*)
      .agg(count(lit(1)).as("n_rhs_values"), sum(col("__n")).as("n_rows"))
      .filter(col("n_rhs_values") > 1)
  }

  /** Per-group α-trimmed mean — the outlier-robust center profiling
    * dashboards want where a plain mean is dragged by a fat tail:
    * drop exactly `floor(n·trimPpm/1e6)` rows off EACH end of the
    * (value asc, tiebreaks asc) total order, then average the rest.
    *
    * Exactness: the trim count is integer ppm arithmetic (never a
    * double `n·α` that can ceil across an ulp), ranks come from the
    * distributed [[Ranks.rowNumberGrouped]] (no per-group global
    * window funneling a fact-scale group through one task), and the
    * mean is an exact decimal sum with one closing division
    * ([[graft.Exprs.davg]]). Output: (groupCol, n_kept, trimmed_mean).
    */
  def trimmedMeanGrouped(df: DataFrame, groupCol: String, valueCol: String,
                         trimPpm: Long,
                         tiebreaks: Seq[String] = Seq.empty): DataFrame = {
    require(trimPpm >= 0 && trimPpm < 500000,
      s"trimPpm must be in [0, 500000) so something survives, got $trimPpm")
    val ranked = Ranks.rowNumberGrouped(df, groupCol, valueCol,
      ascending = true, tiebreaks = tiebreaks, out = "__rn")
    val n = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    ranked.join(broadcast(n), Seq(groupCol))
      .withColumn("__trim", expr(s"__n * ${trimPpm}L div 1000000"))
      .filter(col("__rn") > col("__trim") &&
        col("__rn") <= col("__n") - col("__trim"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_kept"),
        graft.Exprs.davg(col(valueCol)).as("trimmed_mean"))
  }

  /** Gini coefficient of a non-negative `valueCol` over entities — the
    * corpus-balance diagnostic (how concentrated is token mass across
    * domains? user activity across users?): 0 = perfectly even,
    * →1 = one entity holds everything. Standard rank formula
    * `G = Σᵢ (2i − n − 1)·vᵢ / (n·Σv)` over the ascending total order.
    *
    * Determinism + scale: ranks come from the distributed
    * [[Ranks.rowNumber]] (never a global window), every product stays
    * EXACT in decimal until the single closing division (a BIGINT
    * Σ rank·value overflows at ~10⁹ entities × 10⁹ values). The rank
    * factor is DECIMAL(12,0) and the value factor DECIMAL(25,9) — the
    * product is DECIMAL(38,9), exact with NO precision-loss rescale,
    * so fractional value columns (weights, scores to 9 dp) are carried
    * exactly instead of silently rounded to integers. Contract: exact
    * for ≤ 10¹² entities and |value| < 10¹⁶. The contract is ENFORCED
    * in both ANSI modes: under ANSI (the Spark 4 session default) a
    * per-row cast overflow throws; under non-ANSI it becomes a NULL
    * that a bare `sum` would silently skip — a plausible-but-wrong
    * coefficient — so the aggregate counts the non-null products
    * against the row count and emits `gini = NULL` on any mismatch
    * (loud in both modes, wrong in neither).
    * Output: one row (n, total, gini).
    */
  def gini(df: DataFrame, valueCol: String,
           tiebreaks: Seq[String]): DataFrame = {
    val rankDec = org.apache.spark.sql.types.DecimalType(12, 0)
    val valDec = org.apache.spark.sql.types.DecimalType(25, 9)
    val ranked = Ranks.rowNumber(df.filter(col(valueCol).isNotNull),
      valueCol, ascending = true, tiebreaks = tiebreaks, out = "__rn")
    val tot = df.filter(col(valueCol).isNotNull)
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
    val prod = (lit(2) * col("__rn") - col("n") - lit(1)).cast(rankDec) *
      col(valueCol).cast(valDec)
    ranked.crossJoin(broadcast(tot))
      .groupBy(col("n"), col("total"))
      .agg(sum(prod).as("__num"),
        count(prod).as("__k"), count(lit(1)).as("__rows"))
      .select(col("n"), col("total"),
        when(col("__k") === col("__rows"),
          round(col("__num").cast("double") /
            (col("n").cast("double") * col("total").cast("double")), 9))
          .as("gini"))
  }

  /** Robust per-group outlier detection via the modified z-score
    * (Iglewicz–Hoaglin): `mz = 0.6745·(x − median) / MAD`. Unlike the
    * mean/σ gate (q177's shape), median/MAD do not let the outliers
    * inflate their own baseline — one 10⁶× spike shifts a mean-based σ
    * enough to hide itself; it moves the median not at all.
    *
    * Built as TWO [[Ranks.groupedQuantiles]] passes (exact
    * PERCENTILE_DISC medians — never a per-group global window): the
    * value median, then the median absolute deviation, each joined
    * back broadcast. Emits only the flagged rows
    * `(groupCol, idCol, valueCol, med, mad, mz)` with |mz| > threshold.
    * Zero-MAD groups (over half the group at one value) flag nothing —
    * a deadband rule, documented rather than divided by zero.
    */
  def robustOutliers(df: DataFrame, groupCol: String, idCol: String,
                     valueCol: String, threshold: Double = 3.5): DataFrame = {
    val med = Ranks.groupedQuantiles(df, groupCol, valueCol, Seq(0.5),
        tiebreaks = Seq(idCol))
      .select(col(groupCol), col(valueCol).as("med"))
    val dev = df.join(broadcast(med), Seq(groupCol))
      .withColumn("__dev", abs(col(valueCol) - col("med")))
    val mad = Ranks.groupedQuantiles(
        dev.select(col(groupCol), col(idCol), col("__dev")),
        groupCol, "__dev", Seq(0.5), tiebreaks = Seq(idCol))
      .select(col(groupCol), col("__dev").as("mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .withColumn("mz",
        lit(0.6745) * (col(valueCol) - col("med")) / col("mad"))
      .filter(col("mad") > 0 && abs(col("mz")) > threshold)
      .select(col(groupCol), col(idCol), col(valueCol),
        col("med"), col("mad"), col("mz"))
  }
}
