package graft.streaming

import graft.operators.Dedup
import graft.pipelines.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming twin of the fuzzy nightly loop (q74 +
  * [[Dedup.appendToCorpusIndex]]): a documents stream is screened
  * micro-batch by micro-batch against the at-rest corpus band/shingle
  * index, confirmed near-dup pairs land in a durable `dedup_pairs`
  * table, and the index advances with each batch — so later batches
  * also dedup against earlier ones, exactly like consecutive nights.
  *
  * At-least-once → exactly-once, structurally (no transactional sink
  * needed):
  *
  *  1. the screen itself drops docs the index has already absorbed —
  *     the manifest plus a residual data probe for the append crash
  *     window (the S13 seen-ledger, inside
  *     [[Dedup.screenAgainstIndexOf]]) — so a replayed document never
  *     screens against its own at-rest rows;
  *  2. the pair append is keyed on (di, dc) — a replay that crashed
  *     between the pair append and the index append re-screens, finds
  *     the same pairs, and the anti-join drops them;
  *  3. the index append is [[Dedup.appendToCorpusIndex]]'s idempotent
  *     keyed append.
  *
  * Any replay therefore converges to the state one clean run produces —
  * ACROSS process restarts when `indexRoot` names a durable
  * caller-owned path ([[Dedup.openCorpusIndex]] re-opens the at-rest
  * tables there, so the index remembers every previously streamed
  * batch). Without `indexRoot` the index lives in a process-local temp
  * dir keyed by an in-memory memo, and the guarantee is scoped to ONE
  * JVM lifetime: after a real restart the rebuilt index holds only the
  * base corpus and earlier streamed batches are no longer screened
  * against (dedup_pairs and the checkpoint survive either way).
  * Scale shape is q74's: batch-only signature work, corpus side only
  * index scans, per-batch cost ∝ batch + banding collisions.
  */
object StreamingDedup {

  /** One micro-batch of the loop — also the replay unit the spec drives
    * directly. `batch` is documents-shaped (`doc_id`, `text`).
    */
  def processBatch(dir: String, wh: Warehouse, batch: DataFrame,
                   indexRoot: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    indexRoot.foreach(Dedup.openCorpusIndex(spark, dir, _))
    // the seen-ledger is INSIDE the screen (Dedup.screenAgainstIndexOf's
    // unseenBatch guard): manifest fast path + residual data probe, so a
    // doc caught by a crash between a data append and the manifest
    // append never screens against its own at-rest rows — self/sibling
    // pairs are novel and the (di, dc) anti-join below could not absorb
    // them (a review-pass finding; the crash window is spec'd)
    wh.appendNew("dedup_pairs", Dedup.screenAgainstIndex(spark, dir, batch),
      Seq("di", "dc"))
    // the index advance gets the UNFILTERED batch: appendToCorpusIndex's
    // per-table doc_id guards already make it idempotent, and a replay
    // after a crash BETWEEN its two appends must still reach the band
    // guard — pre-filtering on corpus_shingles (the first-appended
    // table) would hide the replayed batch and leave the band side
    // missing forever (the review-pass finding; crash-repair is spec'd)
    Dedup.appendToCorpusIndex(spark, dir, batch)
    graft.TransientCache.drain() // the screen's transients die with the batch
  }

  /** The retraction unit — shared VERBATIM by the control lane below
    * and any batch caller (streamed ≡ batch as an identity of code, the
    * family discipline): take the retracted docs out of the at-rest
    * index (manifest-first anti-join swaps,
    * [[Dedup.retractFromCorpusIndex]]) AND sweep the derived
    * `dedup_pairs` table of every pair referencing them — pairs naming
    * a deleted doc are themselves derived data the takedown reaches.
    * Idempotent id-keyed ops throughout; serial with batches like every
    * sibling op.
    */
  def retractBatch(dir: String, wh: Warehouse, docIds: DataFrame,
                   indexRoot: Option[String] = None): Unit = {
    val spark = docIds.sparkSession
    indexRoot.foreach(Dedup.openCorpusIndex(spark, dir, _))
    val ids = docIds.select(col("doc_id")).dropDuplicates("doc_id")
    Dedup.retractFromCorpusIndex(spark, dir, ids)
    Twin.sweepPairs(wh, "dedup_pairs", ids)
    graft.TransientCache.drain()
  }

  /** One CONTROL micro-batch — the retraction lane's streamed form
    * ([[Twin.control]]): rows carry `op = "advance" | "retract"`. Both
    * halves are the batch units verbatim, so redelivery and crash
    * replay inherit their whole contracts.
    */
  def processControlBatch(dir: String, wh: Warehouse, batch: DataFrame,
                          indexRoot: Option[String] = None): Unit =
    Twin.control(batch)(processBatch(dir, wh, _, indexRoot),
      retractBatch(dir, wh, _, indexRoot))
}
