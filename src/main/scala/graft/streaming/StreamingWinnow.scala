package graft.streaming

import graft.operators.Dedup
import graft.pipelines.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming twin of the DETERMINISTIC nightly loop (q88 +
  * [[Dedup.appendToWinnowIndexOf]]) — [[StreamingDedup]]'s counterpart
  * for the winnowing tier, completing the minhash/winnow symmetry: both
  * incremental tiers have an at-rest index, an idempotent nightly
  * append, a batch delta screen, AND a streaming form of the loop.
  *
  * Each micro-batch of a documents stream is screened for content-run
  * overlap against the at-rest winnow fingerprint index
  * ([[Dedup.screenWinnowAgainstIndexOf]] — batch-only tokenize/gram/
  * window work, collision-bounded corpus scans), confirmed overlap
  * pairs land in a durable `winnow_pairs` table, and the index advances
  * so later batches screen against earlier ones, exactly like
  * consecutive nights. The index lives in the twin's own warehouse
  * beside `winnow_pairs` (`corpus_winnow`, `corpus_winnow_docs` —
  * [[Dedup.WinnowLayout]]), seeded and re-opened like
  * [[StreamingDedup]]'s, so it survives a process restart.
  *
  * At-least-once → exactly-once, structurally, by the same three guards
  * as the fuzzy twin:
  *
  *  1. the screen's seen-ledger (the `unseenBatch` guard: manifest fast
  *     path + residual data probe) drops docs the index already
  *     absorbed, so a replayed document never pairs with its own at-rest
  *     fingerprints;
  *  2. the pair append is keyed on (di, dc) — a replay that crashed
  *     between the pair append and the index append re-screens, finds
  *     the same pairs, and the anti-join drops them;
  *  3. the index advance is [[Dedup.appendToWinnowIndexOf]]'s
  *     idempotent two-tier-guarded append (manifest anti-join +
  *     batch-bounded residual probe for the data/manifest crash window).
  */
object StreamingWinnow {

  /** The warehouse's winnow index, built from `dir`'s seen corpus on
    * first use.
    */
  private def index(dir: String, wh: Warehouse, spark: SparkSession) =
    Dedup.winnowIndexAt(spark, wh.root, Dedup.seenCorpus(spark, dir))

  /** One micro-batch of the loop — also the replay unit the spec drives
    * directly. `batch` is documents-shaped (`doc_id`, `text`).
    */
  def processBatch(dir: String, wh: Warehouse, batch: DataFrame): Unit = {
    val idx = index(dir, wh, batch.sparkSession)
    wh.appendNew("winnow_pairs", Dedup.screenWinnowAgainstIndexOf(idx, batch),
      Seq("di", "dc"))
    // the index advance gets the UNFILTERED batch: the manifest +
    // residual guards make it idempotent, and a replay after a crash
    // between the data append and the manifest append must still reach
    // the manifest guard (the StreamingDedup lesson, same window)
    Dedup.appendToWinnowIndexOf(idx, batch)
    graft.TransientCache.drain() // the screen's transients die with the batch
  }

  /** The retraction unit — [[StreamingDedup.retractBatch]]'s winnow
    * twin, shared verbatim by the control lane and batch callers: drop
    * the docs from the at-rest fingerprint index (manifest-first swaps,
    * [[Dedup.retractFromWinnowIndexOf]]) and sweep `winnow_pairs` of
    * every pair referencing them.
    */
  def retractBatch(dir: String, wh: Warehouse, docIds: DataFrame): Unit = {
    val ids = docIds.select(col("doc_id")).dropDuplicates("doc_id")
    Dedup.retractFromWinnowIndexOf(index(dir, wh, docIds.sparkSession), ids)
    Twin.sweepPairs(wh, "winnow_pairs", ids)
    graft.TransientCache.drain()
  }

  /** One CONTROL micro-batch — op-routed advance/retract
    * ([[Twin.control]]; both halves are the batch units verbatim).
    */
  def processControlBatch(dir: String, wh: Warehouse, batch: DataFrame): Unit =
    Twin.control(batch)(processBatch(dir, wh, _), retractBatch(dir, wh, _))
}
