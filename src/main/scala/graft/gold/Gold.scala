package graft.gold

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Exprs._

/** Gold-layer KPI marts and analytic views (reference:
  * database/layers/gold/publish_gold.py:25-84 and the three views in
  * database/db_setup.py:341-399), generalized over column names so the
  * same operators serve both the reference's e-commerce shapes and the
  * harness's testdata tables.
  *
  * Scale notes: every mart/view is a single hash aggregation (partial
  * map-side combine + one exchange on the group key). The day-grain
  * marts group on a derived `to_date` column — at 100 TB, date-partition
  * the input so the scan prunes to the day range first.
  */
object Gold {

  /** A day-grain mart's aggregates, each with its output column name.
    * The marts share one grouping (`to_date` of the timestamp), so any
    * of them can be computed in one aggregate with [[daily]] and sliced
    * back out by name.
    */
  type Aggs = Seq[(String, Column)]

  /** `aggs` per `event_date` = `to_date(tsCol)`, in the order given. */
  def daily(df: DataFrame, tsCol: String, aggs: Aggs): DataFrame = {
    val named = aggs.map { case (name, agg) => agg.as(name) }
    df.groupBy(to_date(col(tsCol)).as("event_date")).agg(named.head, named.tail: _*)
  }

  /** vw_daily_revenue's (db_setup.py:346-357) and finance_mart's
    * aggregates: count / sum / avg / distinct users.
    */
  def revenueAggs(userCol: String, valueCol: String): Aggs = Seq(
    "events_count" -> count(lit(1)),
    "total_value" -> dsum(col(valueCol)),
    "avg_value" -> davg(col(valueCol)),
    "unique_users" -> countDistinct(col(userCol)))

  /** vw_daily_revenue (db_setup.py:346-357): per-day count / sum / avg /
    * distinct users.
    */
  def dailyRevenue(df: DataFrame, tsCol: String, userCol: String, valueCol: String): DataFrame =
    daily(df, tsCol, revenueAggs(userCol, valueCol))

  /** Rolling `days`-day revenue over the daily mart (trend view on top
    * of vw_daily_revenue). The window input is one row per calendar day
    * — bounded by the calendar, not the corpus — so the global orderBy
    * window (single partition) is safe at any data scale: the heavy
    * lifting happened in the distributed daily aggregate. Sums go
    * through DECIMAL so frame-combination order can't perturb doubles;
    * the average divides the decimal sum as a double by the exact frame
    * count.
    */
  def rollingRevenue(df: DataFrame, tsCol: String, userCol: String,
                     valueCol: String, days: Int = 7): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(unix_date(col("event_date")))
      .rangeBetween(-(days - 1), 0)
    val winSum = sum(col("total_value").cast(Money)).over(w).cast("double")
    dailyRevenue(df, tsCol, userCol, valueCol)
      .select(col("event_date"), col("total_value"))
      .withColumn("rolling_sum", winSum)
      .withColumn("rolling_avg", winSum / count(lit(1)).over(w))
  }

  /** Rolling `days`-day distinct users per active day (the WAU-per-day
    * trend). A window frame can't hold a DISTINCT, so this uses the
    * contribution explode: each distinct (day, user) pair contributes to
    * the `days` window endpoints it falls inside, then one
    * countDistinct per endpoint. The explode factor is the window
    * length over ALREADY-DISTINCT day-user pairs (bounded by
    * days × users, not by event volume), so the heavy reduction happens
    * first and the ×`days` blowup applies only to the reduced set.
    */
  def rollingDistinctUsers(df: DataFrame, tsCol: String, userCol: String,
                           days: Int = 7): DataFrame = {
    val pairs = df
      .select(to_date(col(tsCol)).as("day"), col(userCol).as("u"))
      .distinct()
    val activeDays = pairs.select(col("day").as("event_date")).distinct()
    pairs
      .select(col("u"),
        explode(sequence(col("day"), date_add(col("day"), days - 1)))
          .as("event_date"))
      .join(activeDays, Seq("event_date"))
      .groupBy("event_date")
      .agg(countDistinct(col("u")).as(s"rolling_${days}d_users"))
  }

  /** Retention cohort matrix: users grouped by first-seen day, counted
    * per day-offset at which they return. Two aggregates — first-seen
    * per user, then distinct returners per (cohort, offset) — and one
    * join, each shuffling on aggregate-sized data (users, then
    * cohort×offset cells).
    */
  def retentionCohorts(df: DataFrame, tsCol: String, userCol: String): DataFrame = {
    val pairs = df
      .select(to_date(col(tsCol)).as("day"), col(userCol).as("u"))
      .distinct()
    val cohorts = pairs.groupBy("u").agg(min(col("day")).as("cohort_day"))
    pairs.join(cohorts, Seq("u"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("u")).as("returning_users"))
  }

  /** vw_product_catalog (db_setup.py:360-370): per-category count and
    * min/max/avg price.
    */
  def productCatalog(df: DataFrame, categoryCol: String, priceCol: String): DataFrame =
    df.groupBy(col(categoryCol))
      .agg(
        count(lit(1)).as("product_count"),
        min(col(priceCol)).as("min_price"),
        max(col(priceCol)).as("max_price"),
        davg(col(priceCol)).as("avg_price"))

  /** vw_user_activity (db_setup.py:373-386): dimension LEFT JOIN facts,
    * then per-user distinct-count / sum / latest.
    *
    * Shape chosen for scale: AGGREGATE FIRST, JOIN SECOND. A left-outer
    * join cannot broadcast its preserved (dimension) side, so the naive
    * join-then-group would broadcast — or worse, shuffle — the fact
    * table. Pre-aggregating facts per user costs the one unavoidable
    * shuffle. No broadcast hint on the aggregate: it has one row per
    * distinct user — unbounded — so a forced broadcast would OOM at
    * scale; AQE picks broadcast-vs-shuffle from the actual runtime size.
    */
  def userActivity(users: DataFrame, facts: DataFrame, userKey: String,
                   factId: String, valueCol: String, tsCol: String): DataFrame = {
    val perUser = facts.groupBy(col(userKey))
      .agg(
        countDistinct(col(factId)).as("order_count"),
        dsum(col(valueCol)).as("total_spend"),
        max(col(tsCol)).as("last_order_ts"))
    users.join(perUser, Seq(userKey), "left")
      .select(users.columns.map(col).toIndexedSeq ++ Seq(
        coalesce(col("order_count"), lit(0L)).as("order_count"),
        coalesce(col("total_spend"), lit(0.0)).as("total_spend"),
        col("last_order_ts")): _*)
  }

  /** finance_mart KPIs for a pre-filtered day/window
    * (publish_gold.py:28-34): revenue, average order value, count.
    */
  def financeKpis(df: DataFrame, valueCol: String): DataFrame =
    df.agg(
      dsum(col(valueCol)).as("total_revenue"),
      davg(col(valueCol)).as("avg_order_value"),
      count(lit(1)).as("order_count"))

  /** sales_mart's per-day aggregates (publish_gold.py:52-64): cart
    * count and distinct customers.
    */
  def salesAggs(userCol: String): Aggs = Seq(
    "total_carts" -> count(lit(1)),
    "customer_count" -> countDistinct(col(userCol)))

  /** sales_mart's (day-constant) product count, cross-joined onto its
    * day rows — the scalar-subquery shape of the reference.
    */
  def withProductCount(days: DataFrame, products: DataFrame): DataFrame =
    days.crossJoin(broadcast(products.agg(count(lit(1)).as("product_count"))))

  /** sales_mart's declared-but-never-populated `top_products
    * VARCHAR(500)` (db_setup.py:271), realized as a per-day top-k over
    * product-level fact rows: rank products within each day by summed
    * quantity (product id ascending breaks ties deterministically) and
    * concatenate the top `k` ids into one comma-separated string.
    *
    * Scale: one hash aggregation on (day, product) — the only full
    * shuffle — then `WindowGroupLimit` keeps k rows per day before the
    * day-grain exchange, so the window never sorts more than the
    * per-partition top-k. The final string agg sees k rows per day.
    */
  def topProductsDaily(detail: DataFrame, dateCol: Column, productCol: Column,
                       qtyCol: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDay = detail
      .groupBy(dateCol.as("event_date"), productCol.as("product_id"))
      .agg(dsum(qtyCol).as("qty"))
    val ranked = perDay.withColumn("rk",
      row_number().over(Window.partitionBy(col("event_date"))
        .orderBy(col("qty").desc, col("product_id"))))
      .filter(col("rk") <= k)
    ranked.groupBy(col("event_date"))
      .agg(concat_ws(",",
        transform(
          array_sort(collect_list(struct(col("rk"), col("product_id")))),
          e => e.getField("product_id").cast("string"))).as("top_products"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic CRM analytic the reference's marts stop short of. Each
    * customer gets 1-5 quintile scores per dimension and a coarse
    * segment label.
    *
    * Determinism: quintiles come from exact integer rank arithmetic
    * (`(rank-1)·5 div n`), never NTILE (whose tie placement is
    * engine-defined) and never a floating percentile; ranks break ties
    * on the customer key; monetary totals ride the exact-decimal sum.
    *
    * Scale: per-customer rollup is one hash aggregate; the three rank
    * windows are global sorts of the CUSTOMER DIMENSION (rows = one per
    * customer, already 5-6 orders of magnitude smaller than the fact
    * table), sharing one single-partition exchange. For a billion-row
    * customer dim, swap the exact ranks for percentile cutpoints from
    * `Sketches.histogramQuantiles` and a broadcast range lookup.
    */
  def rfmSegments(df: DataFrame, custCol: String, tsCol: String,
                  valueCol: String): DataFrame = {
    // Quintile ranks via Ranks.rowNumber (bucketed two-pass) and the
    // global max/count via a one-row broadcast — no single-partition
    // window anywhere, so the customer dim can be fact-scale (the r09
    // perf audit's reuse site for the distributed-rank operator).
    // The rollup is CHECKPOINTED before ranking: each Ranks call
    // references its input three times (cut-point sketch, bucket
    // counts, the ranked join — under broadcast subqueries, where
    // AQE's exchange reuse does not reach), and chaining three
    // quintiles lazily re-derives the rollup up to 3³× (the
    // iteration-lineage rule's multi-reference case; measured 12 s →
    // ~2 s at sf0.1). The three score tables then join back on the
    // customer key — parallel over the checkpoint, never chained.
    val per = df.groupBy(col(custCol))
      .agg(max(to_date(col(tsCol))).as("last_order"),
        count(lit(1)).as("frequency"),
        dsum(col(valueCol)).as("monetary"))
    val tot = per.agg(max(col("last_order")).as("__mx"),
      count(lit(1)).as("__n"))
    val g = per.crossJoin(broadcast(tot))
      .withColumn("recency_days",
        datediff(col("__mx"), col("last_order")).cast("long"))
      .localCheckpoint(true)
    def quintile(v: String, asc: Boolean, out: String) =
      graft.operators.Ranks.rowNumber(
          g.select(col(custCol), col(v), col("__n")), v, ascending = asc,
          tiebreaks = Seq(custCol), out = "__rn")
        .select(col(custCol),
          (lit(5L) - expr("5L * (__rn - 1) div __n")).as(out))
    val scored = g
      .join(quintile("recency_days", asc = true, "r_score"), Seq(custCol))
      .join(quintile("frequency", asc = false, "f_score"), Seq(custCol))
      .join(quintile("monetary", asc = false, "m_score"), Seq(custCol))
    scored.select(col(custCol), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
          .when(col("r_score") >= 4, "recent")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("regular").as("segment"))
  }

  /** operations_mart's per-day aggregates (publish_gold.py:75-84):
    * COALESCE(AVG(discount_percentage), 0) and the carts counted.
    */
  def operationsAggs(discountCol: String): Aggs = Seq(
    "avg_discount_percentage" -> coalesce(davg(col(discountCol)), lit(0.0)),
    "carts_processed" -> count(lit(1)))
}
