package graft

import graft.operators._
import graft.pipelines.{InventoryPipeline, SalesPipeline, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library's front door for what a user of the reference
  * (Oscar-Duque/osmart-etl) runs today: the warehouse, the nightly cron
  * cycle, and the generic as-of join and connected components. The query
  * surface is [[SparkEntry.queries]]; the operator objects carry the
  * semantics, SURVEY.md §2.11/§2.12 the complete coverage map.
  *
  * {{{
  * val spark = SparkSession.builder()...getOrCreate()
  * val wh = Graft.warehouse(spark, "/data/warehouse")
  * Graft.nightly(wh, srcDir)                    // the run_etl.sh cycle
  * operators.Stock.stockPoints(spark, srcDir)   // flagship derivation
  * operators.Dedup.minhashLsh(spark, corpusDir) // corpus dedup
  * }}}
  */
object Graft {

  // --- reference pipelines (run_etl.sh:34-36) -----------------------------

  def warehouse(spark: SparkSession, root: String): Warehouse =
    new Warehouse(spark, root)

  /** The nightly cycle: incremental sales refresh, ledger ingest,
    * stock-point derivation. Idempotent; seeds automatically on an empty
    * warehouse. Returns (salesRows, ledgerRows, pointsUpserted).
    */
  def nightly(wh: Warehouse, srcDir: String): (Long, Long, Long) = {
    val sales = SalesPipeline.update(wh, srcDir)
    val ledger = InventoryPipeline.updateLedger(wh, srcDir)
    val points = InventoryPipeline.refreshStockPoints(wh)
    (sales, ledger, points)
  }

  // --- generic operators ----------------------------------------------------

  /** Generic backward as-of join (latest right row at or before each left
    * row's timestamp, per key) — see [[operators.AsOf.joinBackward]].
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: Seq[String],
               ts: String, payload: Seq[String]): DataFrame =
    AsOf.joinBackward(left, right, key, ts, payload)

  /** Generic connected components (min-member component ids) — see
    * [[operators.Graph.connectedComponents]].
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String): DataFrame =
    Graph.connectedComponents(edges, src, dst)
}
