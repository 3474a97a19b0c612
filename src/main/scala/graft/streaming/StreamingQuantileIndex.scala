package graft.streaming

import graft.operators.QuantileIndex
import graft.pipelines.Warehouse
import org.apache.spark.sql.DataFrame

/** Structured-Streaming twin of the q119 incremental-quantile loop: a
  * documents stream folds into the at-rest `tq_hist` / `tq_docs`
  * tables micro-batch by micro-batch ([[QuantileIndex.advance]]) — the
  * SEVENTH index family with a streaming twin, and the first whose
  * read path is an exact ORDER STATISTIC (the others screen, count or
  * cohort; this one feeds `Analytics.rankCutsHist` straight off the
  * at-rest ledger).
  *
  * Exactly-once effect under at-least-once delivery, inherited
  * verbatim from the batch advance (streamed ≡ batch is an identity of
  * code, the StreamingSequence rule): in-batch duplicates drop at the
  * entry, cross-batch redelivery anti-joins away against the
  * append-only `tq_docs` manifest, a partially appended night's rows
  * anti-join by (batch_key, g, source, v), and the tiny `tq_marker`
  * swap is the night's atomic commit — a crashed micro-batch replays
  * to convergence through the five windows argued in
  * [[QuantileIndex]].
  *
  * Cold start: a cold warehouse's first micro-batch IS the seed (the
  * advance routes on `tq_docs` existence itself — no separate seed
  * path, so there is no two-table seed-crash seam to guard). State is
  * bounded by the value support (|langs| · |distinct token counts| at
  * rest) plus the doc-id manifest — never by stream length times
  * anything.
  */
object StreamingQuantileIndex {

  final case class QDoc(doc_id: Long, lang: String, source: String,
                        text: String)

  /** A document event WITH a control verb — the retraction lane's
    * streamed form: `op = "advance"` folds the doc in, `op = "retract"`
    * cancels it ([[QuantileIndex.retract]] — the takedown/opt-out
    * control message riding the same stream as the data, the classic
    * CDC upsert/delete shape).
    */
  final case class QDocOp(doc_id: Long, lang: String, source: String,
                          text: String, op: String)

  /** One micro-batch: fold novel documents into the at-rest histogram. */
  def processBatch(wh: Warehouse, batch: DataFrame, batchId: Long): Unit =
    QuantileIndex.advance(wh.spark, wh.root, batch)

  /** One CONTROL micro-batch ([[Twin.control]]): retraction messages
    * ride the SAME checkpointed stream as document arrivals. Both halves
    * inherit their batch twins' whole replay contract verbatim
    * (marker-gated no-op on redelivery, guarded row-level convergence
    * through every crash window), so the streamed retraction path ≡ the
    * nightly retraction path is an identity of code — the same twin
    * discipline as the seven advance lanes, spec'd end-state-equal in
    * RetractionSpec.
    */
  def processControlBatch(wh: Warehouse, batch: DataFrame, batchId: Long): Unit =
    Twin.control(batch)(QuantileIndex.advance(wh.spark, wh.root, _),
      QuantileIndex.retract(wh.spark, wh.root, _))
}
