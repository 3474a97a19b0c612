package graft.streaming

import graft.pipelines.{CorpusPipeline, Warehouse}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Structured-Streaming twin of the WHOLE incremental refinement cycle
  * ([[CorpusPipeline.refineIncremental]]) — where [[StreamingDedup]] /
  * [[StreamingWinnow]] / [[StreamingAnn]] stream one index tier each,
  * this streams the pipeline's five-screen night (quality → exact →
  * decontamination → fuzzy → winnow) with all of its state advances.
  *
  * The body IS `refineIncremental`, reused verbatim: its append-order
  * contract (raw ledger first — order-free; survivors; novel keys;
  * winnow index; MINHASH index LAST, because the seen-doc fast path
  * keys off its manifest) was written for exactly this at-least-once
  * setting, so a micro-batch replayed after a crash at ANY point in
  * the order converges to the clean night's state (spec'd, including
  * the keys-committed/index-not window where the exact screen drops
  * the whole batch and the index advances still land via the at-rest
  * `corpus_live` read-back).
  *
  * Durability is the per-tier twins' too: the cycle's entire state —
  * `corpus_live`, `live_keys`, both live indexes — lives under the
  * caller's warehouse root, so a process restart reopens everything at
  * rest by construction.
  */
object StreamingRefine {

  /** One micro-batch night — also the replay unit the spec drives
    * directly. `batch` is documents-shaped (`doc_id`, `source`,
    * `text`).
    */
  def processBatch(wh: Warehouse, batch: DataFrame): Unit = {
    CorpusPipeline.refineIncremental(wh, batch)
    ()
  }

  /** The drift-GATED form ([[CorpusPipeline.refineIncrementalGated]]):
    * each micro-batch takes the q96 drift reading first, and an
    * off-distribution batch quarantines whole instead of entering the
    * screens. Replay convergence is inherited: the gate is a
    * deterministic function of (live corpus, batch), so a redelivered
    * batch re-takes the same branch, and both branches' appends are
    * keyed.
    */
  def gatedSink(docsStream: DataFrame, wh: Warehouse,
                checkpointDir: String,
                maxDrift: Double = CorpusPipeline.DriftGate)
      : DataStreamWriter[Row] =
    Twin.sink(docsStream, checkpointDir) { (batch, _) =>
      CorpusPipeline.refineIncrementalGated(wh, batch, maxDrift)
      ()
    }
}
