package graft

import graft.operators._
import graft.pipelines.{InventoryPipeline, SalesPipeline, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library's front door for what a user of the reference
  * (Oscar-Duque/osmart-etl) runs today: the warehouse, the nightly cron
  * cycle, the generic as-of join and connected components, and the
  * retraction lane. The query surface is [[SparkEntry.queries]]; the
  * operator objects carry the semantics, SURVEY.md §2.11/§2.12 the
  * complete coverage map.
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

  // --- retraction lane (takedowns / opt-outs / source recalls) -------------

  /** Purge a doc set from the live corpus pipeline — every maintained
    * table, both screen indexes, the raw ledger (so a rebuild cannot
    * resurrect), with re-offered content re-screened fresh. See
    * [[pipelines.CorpusPipeline.retractFromLive]].
    */
  def retractDocs(wh: Warehouse, docIds: DataFrame): Unit =
    pipelines.CorpusPipeline.retractFromLive(wh, docIds)

  /** Cancel documents out of the at-rest quantile cube (negative-delta
    * retraction; the docs frame is the takedown payload). See
    * [[operators.QuantileIndex.retract]].
    */
  def retractFromQuantileIndex(spark: SparkSession, root: String,
                               docs: DataFrame): Unit =
    QuantileIndex.retract(spark, root, docs)

  /** User opt-out for the retention index (drops every at-rest row of
    * the users). See [[operators.Sessions.retractRetentionUsers]].
    */
  def retractUsersFromRetention(spark: SparkSession, root: String,
                                userIds: DataFrame): Unit =
    Sessions.retractRetentionUsers(spark, root, userIds)

  /** User opt-out for the transitions ledger — `userEvents` is the
    * users' complete ingested history (the CDC delete payload). See
    * [[operators.Sessions.retractTransitionsUsers]].
    */
  def retractUsersFromTransitions(spark: SparkSession, root: String,
                                  userEvents: DataFrame): Unit =
    Sessions.retractTransitionsUsers(spark, root, userEvents)

  /** Advance one ingest window's register stripe of the EPOCH-STRIPED
    * cardinality index (`hashes` = the window's element stream). See
    * [[operators.Sketch.advanceHllEpoch]].
    */
  def advanceCardinalityEpoch(spark: SparkSession, root: String, epoch: Long,
                              hashes: DataFrame): Unit =
    Sketch.advanceHllEpoch(spark, root, epoch, hashes)

  /** O(affected windows) retraction for the striped cardinality index:
    * drop the named epochs, re-max their survivors (`survivors` =
    * (epoch, sh_h), affected windows only). See
    * [[operators.Sketch.retractHllEpochs]].
    */
  def retractCardinalityEpochs(spark: SparkSession, root: String,
                               epochs: Seq[Long], survivors: DataFrame): Unit =
    Sketch.retractHllEpochs(spark, root, epochs, survivors)

  /** Full rebuild-on-retract for the collapsed cardinality lane (the
    * fallback when the epoch → docs mapping is unknown). See
    * [[operators.Sketch.retractHllRebuild]].
    */
  def retractCardinalityRebuild(spark: SparkSession, root: String,
                                survivingHashes: DataFrame): Unit =
    Sketch.retractHllRebuild(spark, root, survivingHashes)
}
