package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed last-wins upsert — the Spark-native MERGE pattern replacing the
  * reference's MySQL `INSERT ... ON DUPLICATE KEY UPDATE` (S8,
  * etl_sales/db/db_helpers.py:25-40) and its staging-table variant (S9,
  * etl_inventory/seed_stock_points.py:155-175).
  *
  * Scale notes: one shuffle on the key columns (the window exchange); at
  * cluster scale the production path is Delta/Iceberg `MERGE INTO`, which
  * rewrites only matched files — this expression form is the engine-agnostic
  * fallback and also the oracle-testable semantics. The `tiebreak` column
  * makes ordering deterministic where version timestamps collide (Spark sort
  * is not stable — SURVEY.md §2.5 R2).
  */
object Upsert {

  /** Last-wins winner per key group — one window shuffle. The in-batch
    * dedup of every [[graft.pipelines.UpsertSink]], the keep-first of
    * [[graft.sources.Csv.dedupAppend]], and the body of [[upsertByKey]].
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], versionCol: String,
                   tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col(tiebreakCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Version-wins merge of two frames (q05): unlike the sinks' keyed
    * merge, a committed row with a higher version survives the incoming
    * one.
    */
  def upsertByKey(existing: DataFrame, incoming: DataFrame,
                  keys: Seq[String], versionCol: String,
                  tiebreakCol: String): DataFrame =
    latestPerKey(existing.unionByName(incoming), keys, versionCol, tiebreakCol)
}
