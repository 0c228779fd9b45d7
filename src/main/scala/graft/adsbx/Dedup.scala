package graft.adsbx

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators D1/D2 (SURVEY §2.4).
  *
  * The reference dedups by inserting into a JS `Map` keyed by aircraft id —
  * later array positions overwrite earlier ones (task.ts:136,187), i.e.
  * last-wins in arrival order. Arrival order is meaningless in a distributed
  * shuffle, so the engine makes it explicit with a sequence column.
  *
  * Scale notes: D1 is a top-1 window (`row_number() = 1` per key), which
  * Spark plans as a codegen'd sort with a `WindowGroupLimit` on each side of
  * the single shuffle on the key — the map side keeps one row per key and
  * partition before the shuffle, and the carried columns travel as plain
  * columns, never as one wide aggregation buffer.
  */
object Dedup {

  /** D1: last-wins by `key`, ordered by `ord` (higher wins). */
  def lastWins(df: DataFrame, key: String, ord: String): DataFrame =
    winner(df, key, ord, col(ord).desc_nulls_last)

  /** First-wins variant (lower `ord` wins) — used by extension queries. */
  def firstWins(df: DataFrame, key: String, ord: String): DataFrame =
    winner(df, key, ord, col(ord).asc_nulls_last)

  /** D2: set-guarded output dedup (task.ts:215,235-238,244-247). After D1
    * the key is already unique, so this is a safety net exactly like the
    * reference's `features_ids: Set` (added in its v1.11.0); which of
    * several rows of one key survives is unspecified, as in
    * `dropDuplicates`. Downstream of D1 the rows already arrive partitioned
    * by the key, so it adds no exchange. */
  def distinctByKey(df: DataFrame, key: String): DataFrame =
    topOne(df, key, col(key))

  /** One row per `key`, the first by `order`, with `ord` dropped. Keeps
    * `max_by`/`min_by` semantics: a row with a null `ord` never wins, and a
    * key whose `ord` values are all null still emits one row, with null
    * carried columns. */
  private def winner(df: DataFrame, key: String, ord: String,
                     order: Column): DataFrame = {
    val carried = df.columns.filter(c => c != key && c != ord)
    topOne(df, key, order).select(col(key) +: carried.map(c =>
      when(col(ord).isNotNull, col(c)).as(c)): _*)
  }

  /** The first row per `key` by `order`, all columns kept. */
  private def topOne(df: DataFrame, key: String, order: Column): DataFrame =
    df.withColumn("_rn", row_number().over(Window.partitionBy(col(key)).orderBy(order)))
      .filter(col("_rn") === 1)
      .drop("_rn")
}
