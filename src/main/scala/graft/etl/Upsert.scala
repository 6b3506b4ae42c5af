package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert / merge machinery (SURVEY.md §2.1 `sink_jdbc_upsert`, §2.5 `j5`,
  * §2.6 `w2`).
  *
  * The reference upserts with `INSERT ... ON CONFLICT (k) DO UPDATE`
  * (tiny_api_v2_cliente.py:122-123,198 and inferred entity loads per
  * README.md:12). Over DataFrames the equivalent is merge-by-union:
  * updates win, untouched existing rows are kept via an anti join on the
  * natural key. The ETL tables commit versioned deltas instead and resolve
  * on read (PartitionedMerge); they share `dedupe`.
  *
  * Scale posture: the anti join only ships the update-side KEY columns
  * (projected before the join), so the shuffle is keys-only; when the update
  * batch is small (the common incremental case) Catalyst/AQE broadcasts it
  * and the existing side never shuffles at all.
  */
object Upsert {

  /** Last-writer-wins merge: every key present in `updates` takes the update
    * row; all other existing rows pass through. Idempotent: merging the same
    * updates twice yields the same table. The updates batch is first
    * collapsed to ONE row per key by `dedupe` (API pages can duplicate
    * records under concurrent source writes). */
  def merge(existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val uniq = dedupe(updates, keys)
    uniq.unionByName(existing.join(uniq.select(keys.map(col): _*).distinct(),
      keys, "left_anti"))
  }

  /** The ETL layer's one dedupe rule: one row per key, the one with the
    * highest `versions` (descending significance); ties are broken by every
    * other non-key column, descending, so the pick never depends on row
    * order — the reference's ON CONFLICT single-row outcome. A frame of
    * keys only is made distinct. */
  def dedupe(df: DataFrame, keys: Seq[String],
             versions: Seq[String] = Nil): DataFrame = {
    val order = versions ++
      df.columns.filterNot(c => keys.contains(c) || versions.contains(c))
    if (order.isEmpty) df.distinct() else latestPerKey(df, keys, order)
  }

  /** w2_latest_per_key: collapse a versioned changelog to the latest row per
    * natural key (ref UNIQUE(id_produto, nome_deposito) :87 + upsert
    * semantics). `orderCols` are descending-significance version columns.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** j5 decomposition: rows in `source` whose key is absent from `target`. */
  def newRows(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    source.join(target.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** j5 decomposition: rows in `source` whose key exists in `target`. */
  def matchedRows(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    source.join(target.select(keys.map(col): _*).distinct(), keys, "left_semi")
}
