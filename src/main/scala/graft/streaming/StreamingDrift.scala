package graft.streaming

import graft.pipelines.{CorpusPipeline, Warehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of the q96 drift monitor
  * ([[CorpusPipeline.batchDrift]]): every micro-batch of a documents
  * stream is measured for token-distribution drift against the live
  * corpus, and the reading lands in a durable `drift_log` table — the
  * continuously-written version of the nightly off-distribution alarm,
  * the dashboard feed an ingest operator watches BETWEEN refine cycles.
  *
  * Unlike the dedup/winnow/ANN twins this loop advances NO shared
  * state: the probe READS the maintained `live_token_counts`
  * distribution when the ingest lanes have seeded it (the normal
  * case — O(batch tokens + live vocab) per tick) and falls back to a
  * direct corpus tokenize when the table is absent, but never WRITES
  * it — seeding here would race [[graft.pipelines.CorpusPipeline
  * .refreshFull]]'s retire-and-reseed window (a tick landing between
  * the delete and the reseed would re-seed from the PRE-refresh
  * corpus and the refresh's own guard would then skip, leaving the
  * distribution permanently stale — the exact "missing, never stale"
  * violation the retire ordering exists to prevent; a review-pass
  * finding). Seeding stays with the SERIAL ingest lanes; the monitor
  * appends only to its own log and composes with [[StreamingRefine]]
  * (or the nightly batch cycle) without entering their crash
  * contracts. Exactly-once for the
  * log itself comes from keying on `(batch_id, source)` — the
  * [[Twin.sink]] epoch id is stable across checkpoint replays, so a
  * redelivered micro-batch recomputes the same rows and the keyed
  * anti-join drops them.
  *
  * No wall-clock rides in the log (the suite's determinism contract):
  * `batch_id` is the stream's own epoch counter, which is exactly the
  * ordering a drift time-series needs.
  */
object StreamingDrift {

  /** Default retention for the in-loop cadence: epochs kept in
    * `drift_log` when a sink is wired with retention on. 0 = unbounded
    * (the spec-replay default — deterministic row sets need no cut).
    */
  val RetainEpochsDefault = 0

  /** One micro-batch of the monitor — also the replay unit the spec
    * drives directly. `batch` is documents-shaped (needs `text`).
    * `retain` > 0 runs the [[retainEpochs]] cut after the append — from
    * INSIDE the micro-batch thread, which is what makes the cut safe
    * against its own read-then-swap window (single-writer-per-table:
    * the monitor is drift_log's only writer, and the cut runs serialized
    * between its appends).
    */
  def processBatch(wh: Warehouse, batch: DataFrame, batchId: Long,
                   retain: Int = RetainEpochsDefault): Unit = {
    // same base contract as the ingest entry points: require a refined
    // warehouse and idempotently seed corpus_live, instead of dying on
    // a raw path error the first time a sink is wired before refine()
    require(wh.exists("corpus_live") || wh.exists("corpus_clean"),
      "StreamingDrift needs a refined base — run refine() first")
    if (!wh.exists("corpus_live"))
      wh.write("corpus_live", wh.read("corpus_clean"))
    val drift = CorpusPipeline.batchDrift(wh, batch)
      .select(lit(batchId).as("batch_id"), col("source"),
        col("l1_drift"), col("n_tokens"))
    wh.appendNew("drift_log", drift, Seq("batch_id", "source"))
    // one tiny parquet lands per epoch — the small-files bill every
    // append-only table in the repo pays via the same cadence
    wh.compactIfFragmented("drift_log")
    if (retain > 0) retainEpochs(wh, retain)
    graft.TransientCache.drain()
    ()
  }

  /** Retention cut for the drift log: keep only the newest `keepEpochs`
    * epochs. A monitor ticking for months otherwise accumulates an
    * unbounded (if tiny) log; the cut rides the same tmp-swap (bak-heal)
    * discipline as every table rewrite, so a crash mid-cut leaves the
    * old log intact. The epoch set is bounded (one row group per epoch),
    * so the newest-N cut plans as a `TakeOrderedAndProject` + semi-join
    * — no full sort. Idempotent: re-cutting at the same setting keeps
    * the same rows; when nothing exceeds the retention the call is a
    * read-only count, not a rewrite.
    *
    * SERIALIZATION CONTRACT (single-writer-per-table, an r11 advice
    * note): the cut is a read-then-swap — a monitor tick appending
    * BETWEEN the read and the swap would lose that epoch's rows, and
    * the keyed exactly-once append would not restore them (the epoch is
    * already checkpointed as processed). Call this either (a) with the
    * monitor stopped, or (b) via [[processBatch]]'s `retain` cadence,
    * which runs it on the micro-batch thread between ticks — the
    * race-free wiring, the way `compactIfFragmented` rides every append
    * helper.
    */
  def retainEpochs(wh: Warehouse, keepEpochs: Int): Unit = {
    require(keepEpochs > 0, "keepEpochs must be positive")
    if (!wh.exists("drift_log")) return
    val log = wh.read("drift_log")
    if (log.select(col("batch_id")).distinct().count() <= keepEpochs) return
    val cut = log.select(col("batch_id")).distinct()
      .orderBy(col("batch_id").desc).limit(keepEpochs)
    wh.write("drift_log", log.join(cut, Seq("batch_id"), "left_semi"))
  }
}
