package graft.streaming

import graft.operators.Dedup
import graft.pipelines.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming twin of the DETERMINISTIC nightly loop (q88 +
  * [[Dedup.appendToWinnowIndex]]) — [[StreamingDedup]]'s counterpart for
  * the winnowing tier, completing the minhash/winnow symmetry: both
  * incremental tiers now have an at-rest index, an idempotent nightly
  * append, a batch delta screen, AND a streaming form of the loop.
  *
  * Each micro-batch of a documents stream is screened for content-run
  * overlap against the at-rest winnow fingerprint index
  * ([[Dedup.screenWinnowAgainstIndex]] — batch-only tokenize/gram/window
  * work, collision-bounded corpus scans), confirmed overlap pairs land
  * in a durable `winnow_pairs` table, and the index advances so later
  * batches screen against earlier ones, exactly like consecutive nights.
  *
  * At-least-once → exactly-once, structurally, by the same three guards
  * as the fuzzy twin:
  *
  *  1. the screen's seen-ledger ([[Dedup.screenWinnowAgainstIndex]]'s
  *     `unseenBatch` guard: manifest fast path + residual data probe)
  *     drops docs the index already absorbed, so a replayed document
  *     never pairs with its own at-rest fingerprints;
  *  2. the pair append is keyed on (di, dc) — a replay that crashed
  *     between the pair append and the index append re-screens, finds
  *     the same pairs, and the anti-join drops them;
  *  3. the index advance is [[Dedup.appendToWinnowIndex]]'s idempotent
  *     two-tier-guarded append (manifest anti-join + batch-bounded
  *     residual probe for the data/manifest crash window).
  *
  * Any replay converges to the state one clean run produces — ACROSS
  * process restarts when `indexRoot` names a durable caller-owned path
  * ([[Dedup.openWinnowIndex]] re-opens the at-rest tables there).
  * Without it the index lives in a process-local temp dir and the
  * guarantee is scoped to one JVM lifetime, exactly as documented on
  * [[StreamingDedup]].
  */
object StreamingWinnow {

  /** One micro-batch of the loop — also the replay unit the spec drives
    * directly. `batch` is documents-shaped (`doc_id`, `text`).
    */
  def processBatch(dir: String, wh: Warehouse, batch: DataFrame,
                   indexRoot: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    indexRoot.foreach(Dedup.openWinnowIndex(spark, dir, _))
    wh.appendNew("winnow_pairs", Dedup.screenWinnowAgainstIndex(spark, dir, batch),
      Seq("di", "dc"))
    // the index advance gets the UNFILTERED batch: appendToWinnowIndex's
    // manifest + residual guards make it idempotent, and a replay after
    // a crash between the data append and the manifest append must still
    // reach the manifest guard (the StreamingDedup lesson, same window)
    Dedup.appendToWinnowIndex(spark, dir, batch)
    graft.TransientCache.drain() // the screen's transients die with the batch
  }

  /** The retraction unit — [[StreamingDedup.retractBatch]]'s winnow
    * twin, shared verbatim by the control lane and batch callers: drop
    * the docs from the at-rest fingerprint index (manifest-first swaps,
    * [[Dedup.retractFromWinnowIndex]]) and sweep `winnow_pairs` of
    * every pair referencing them.
    */
  def retractBatch(dir: String, wh: Warehouse, docIds: DataFrame,
                   indexRoot: Option[String] = None): Unit = {
    val spark = docIds.sparkSession
    indexRoot.foreach(Dedup.openWinnowIndex(spark, dir, _))
    val ids = docIds.select(col("doc_id")).dropDuplicates("doc_id")
    Dedup.retractFromWinnowIndex(spark, dir, ids)
    Twin.sweepPairs(wh, "winnow_pairs", ids)
    graft.TransientCache.drain()
  }

  /** One CONTROL micro-batch — op-routed advance/retract
    * ([[Twin.control]]; both halves are the batch units verbatim).
    */
  def processControlBatch(dir: String, wh: Warehouse, batch: DataFrame,
                          indexRoot: Option[String] = None): Unit =
    Twin.control(batch)(processBatch(dir, wh, _, indexRoot),
      retractBatch(dir, wh, _, indexRoot))
}
