package graft.streaming

import graft.operators.Sketch
import graft.pipelines.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming twin of the q109 incremental-cardinality loop:
  * a documents stream advances the at-rest HLL register table micro-
  * batch by micro-batch ([[Sketch.appendToHllIndex]]) and logs the
  * post-advance estimate per batch — the running "how many distinct
  * shingles does the corpus hold" a crawl dashboard reads. Closes the
  * §2.9 streaming symmetry for the FOURTH index family (fuzzy/winnow/
  * ANN screens, now the cardinality sketch).
  *
  * This is the simplest twin in the family, and that is the point: the
  * register table's merge is element-wise MAX, which is idempotent, so
  * at-least-once delivery needs NO seen-ledger, NO keyed anti-join, NO
  * crash-ordering argument — a replayed micro-batch maxes against
  * registers that already absorbed it and the advance converges
  * bit-identically (the guard is algebra; contrast [[StreamingDedup]]'s
  * three-clause structural argument). The estimate log rides the same
  * property: `hll_log` is keyed by batch id and the keyed append drops
  * replayed readings, but even an unguarded replay would re-log the
  * SAME estimate (the registers cannot move under a replay).
  *
  * Durability follows the table, not the memo: the stream advances the
  * `hll_regs` of its own warehouse; across a process restart the
  * checkpoint resumes the stream and the table remembers every
  * previously streamed batch (streamed ≡ batch-loop + restart survival
  * spec'd).
  */
object StreamingCardinality {

  // No retraction control lane here, deliberately: max registers are
  // non-invertible (the same idempotent max that makes this twin
  // manifest-free), so a retract message carrying the deleted docs
  // could not be served from the stream — retraction for this family
  // is a batch lane: the full rebuild-on-retract
  // ([[graft.operators.Sketch.retractHllRebuild]] over the surviving
  // element stream, amortized by batching takedowns), or — where the
  // index was advanced epoch-striped
  // ([[graft.operators.Sketch.advanceHllEpoch]]) — the O(affected
  // windows) stripe retraction
  // ([[graft.operators.Sketch.retractHllEpochs]]). This twin keeps the
  // COLLAPSED single-stripe layout on purpose: its manifest-free
  // algebraic replay guarantee is the collapsed layout's property.

  /** One micro-batch: tokenize/shingle/hash the batch docs exactly as
    * the at-rest seed did, advance the registers, log the estimate.
    */
  def processBatch(wh: Warehouse, batch: DataFrame, batchId: Long): Unit = {
    val hashes = batchHashes(batch)
    // a missing table means the stream opened an unseeded warehouse: the
    // first batch IS the seed (max-merge over an empty register set is
    // the batch's own registers), so the cold start needs no special
    // ingest lane — and a crash mid-seed leaves the table MISSING,
    // never stale (the tmp-swap write), replayed to the same seed
    if (!wh.exists("hll_regs"))
      wh.write("hll_regs", Sketch.epochRegistersOf(0L, hashes))
    else
      Sketch.appendToHllIndex(wh.spark, wh.root, hashes)
    val est = Sketch.hllEstimate(
      wh.read("hll_regs").select(col("reg"), col("mj")))
      .select(lit(batchId).as("batch_id"), col("n_nonzero_regs"),
        col("sum_scaled"), col("hll_estimate"))
    wh.appendNew("hll_log", est, Seq("batch_id"))
  }

  /** The batch-side shingle hash stream — the same projection the
    * corpus-side seed ([[Sketch.hllIndexAt]]) consumed, applied to a
    * documents-shaped frame.
    */
  private[graft] def batchHashes(docs: DataFrame): DataFrame = {
    import graft.functions.TextFns._
    docs.select(explode(shingles3All(toks(col("text")))).as("s"))
      .select(hash60(col("s")).as("sh_h"))
  }
}
