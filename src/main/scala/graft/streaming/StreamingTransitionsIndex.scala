package graft.streaming

import graft.operators.Sessions
import graft.pipelines.Warehouse
import org.apache.spark.sql.DataFrame

/** Structured-Streaming twin of the q115 incremental-transitions loop:
  * an events stream advances the at-rest `tr_deltas` ledger and
  * `tr_last` carry micro-batch by micro-batch
  * ([[Sessions.advanceTransitionsIndex]]) — the SIXTH and last index
  * family gains its streaming twin, and with it the twin set covers
  * every crash-contract flavor: manifest anti-joins
  * ([[StreamingDedup]]/[[StreamingWinnow]]/[[StreamingAnn]]),
  * idempotent algebra ([[StreamingCardinality]]), key-is-the-row
  * anti-joins ([[StreamingRetentionIndex]]), and now the ADDITIVE
  * night-marker contract.
  *
  * The exactly-once argument is inherited verbatim from the batch
  * advance: the micro-batch's key stamps `tr_last` in the same
  * tmp-swap that advances it, so a replayed batch either no-ops on the
  * marker (batch completed) or re-derives byte-identical delta rows
  * against the unchanged carry and the row-level anti-join lands only
  * what is missing. Ordering contract: in-order per user ACROSS
  * micro-batches (the §2.9 ingest-watermark contract) — the carry must
  * be each user's true latest event for boundary pairs to be exact.
  *
  * Cold start: the first batch IS the seed (the advance treats a
  * missing `tr_last` as an empty carry: its pairs are in-batch only).
  * Durability follows the warehouse across checkpoint restarts.
  */
object StreamingTransitionsIndex {

  final case class TrEv(user_id: Long, ts: java.sql.Timestamp,
                        event_id: Long, event_type: String)

  /** One micro-batch: seed-or-advance the ledger + carry. */
  def processBatch(wh: Warehouse, batch: DataFrame, batchId: Long): Unit =
    Sessions.advanceTransitionsIndex(wh.spark, wh.root, batch)

  /** One CONTROL micro-batch — op-routed advance/opt-out
    * ([[Twin.control]]). A `retract` message carries the opted-out
    * users' COMPLETE ingested event history — the natural CDC delete
    * payload (the rows the takedown deletes), and exactly what
    * [[Sessions.retractTransitionsUsers]] needs to cancel their
    * additive cells (a user's transitions never cross users, so their
    * full-history delta negated is their exact total contribution).
    * Both halves are the batch units verbatim.
    */
  def processControlBatch(wh: Warehouse, batch: DataFrame, batchId: Long): Unit =
    Twin.control(batch)(processBatch(wh, _, batchId),
      Sessions.retractTransitionsUsers(wh.spark, wh.root, _))
}
