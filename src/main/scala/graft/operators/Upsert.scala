package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyed merge/upsert semantics, re-expressed as anti-join + union.
  *
  * The reference upserts with a staging table and `DELETE WHERE pk IN
  * (SELECT pk FROM temp)` then append (reference:
  * database/layers/silver/transform_silver.py:82-122) and with
  * `INSERT ... ON CONFLICT (date) DO UPDATE`
  * (reference: database/layers/gold/publish_gold.py:25-41,52-64,75-84).
  * Both are the same relational operation: rows of `current` whose key
  * appears in `updates` are replaced by the `updates` row.
  *
  * Scale notes: `left_anti` shuffles both sides on the key once; when
  * `updates` is a small daily delta Catalyst broadcasts it and the big
  * `current` side never shuffles. Union is free (no exchange). The write
  * back is an atomic directory overwrite (or dynamic partition overwrite
  * when the table is date-partitioned — see maintenance.Retention).
  *
  * A merge references `updates` twice, in the anti-join and in the
  * union. Exchange reuse shares its shuffles between the two, but the
  * operators above the last shuffle run once per reference, and a
  * join's broadcast decision reads `updates`' size estimate. A caller
  * whose `updates` is an expensive plan computes it once first:
  * `pipeline.Runner` checkpoints silver's deduped history and collects
  * the gold marts' day rows into a local relation, whose exact size
  * plans the broadcast from the start.
  */
object Upsert {

  /** current ⟕anti updates ∪ updates — last-writer-wins merge on `keys`. */
  def merge(current: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    current.join(updates, keys, "left_anti")
      .unionByName(updates, allowMissingColumns = false)

  /** First publish of a bookkept mart: both audit stamps are `now`
    * (reference db_setup.py:258-262 `created_at/updated_at TIMESTAMP
    * DEFAULT CURRENT_TIMESTAMP`).
    */
  def stampNew(daily: DataFrame, now: Column): DataFrame =
    daily.withColumn("created_at", now).withColumn("updated_at", now)

  /** Bookkept upsert (reference publish_gold.py:37-41 `ON CONFLICT ...
    * DO UPDATE SET ..., updated_at = CURRENT_TIMESTAMP`): rows whose key
    * already exists in `mart` keep their original `created_at` and get a
    * fresh `updated_at`; brand-new keys get both stamps = `now`;
    * untouched mart rows are carried through unchanged.
    *
    * Scale: the carried-stamp lookup joins `daily` against a two-column
    * projection of the mart (key, created_at) — day-grain marts are tiny
    * and AQE broadcasts the projection; the anti-join half is the same
    * single shuffle as [[merge]]. It anti-joins on `daily`, which has
    * the stamped rows' keys, so the lookup join runs once, for the
    * union, and not again inside the anti-join.
    */
  def upsertStamped(mart: DataFrame, daily: DataFrame, now: Column,
                    keys: Seq[String]): DataFrame = {
    val prev = mart.select(keys.map(col) :+ col("created_at").as("_prev_created_at"): _*)
    val stamped = daily
      .join(prev, keys, "left")
      .withColumn("created_at", coalesce(col("_prev_created_at"), now))
      .withColumn("updated_at", now)
      .drop("_prev_created_at")
    mart.join(daily, keys, "left_anti").unionByName(stamped, allowMissingColumns = false)
  }

  /** SCD Type-2 dimension build from a change history: collapse
    * consecutive identical attribute states per key and emit versioned
    * rows `(key…, attrs…, valid_from, valid_to, is_current)` — the
    * warehouse pattern the flat [[merge]] family overwrites away
    * (last-writer-wins keeps no history; Type 2 is the history).
    *
    * A row opens a version when it is the key's first observation or
    * any tracked attribute differs (null-safely) from the previous
    * observation; `valid_to` is the next version's `valid_from`, open
    * versions have `valid_to` null. `tieCols` break same-timestamp
    * ordering — REQUIRED for determinism whenever (key, ts) can repeat.
    *
    * Shape: both windows (change detection, validity chaining) partition
    * on the same key, so the second reuses the first's exchange — ONE
    * shuffle for the whole build, and the output is version-count-sized,
    * not history-sized.
    */
  def scd2FromHistory(history: DataFrame, keyCols: Seq[String],
                      attrCols: Seq[String], tsCol: String,
                      tieCols: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy((col(tsCol) +: tieCols.map(col)): _*)
    val changed = attrCols
      .map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _)
    val changes = history
      .withColumn("__rn", row_number().over(w))
      .withColumn("__chg", changed)
      .filter(col("__rn") === 1 || col("__chg"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy((col(tsCol) +: tieCols.map(col)): _*)
    changes
      .select((keyCols ++ attrCols).map(col) :+ col(tsCol).as("valid_from")
        :+ lead(col(tsCol), 1).over(wc).as("valid_to"): _*)
      .withColumn("is_current", col("valid_to").isNull)
  }
}
