package graft.streaming

import graft.operators.Sessions
import graft.pipelines.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Structured-Streaming twin of the q113 incremental-retention loop: an
  * events stream advances the at-rest `ret_user` / `ret_weeks` tables
  * micro-batch by micro-batch ([[Sessions.advanceRetentionIndex]]) —
  * the FIFTH index family with a streaming twin (fuzzy / winnow / ANN
  * screens, cardinality registers, now the retention user-weeks).
  *
  * The event tier's retention now has BOTH streaming forms, mirroring
  * the batch pair: [[StreamingRetention]] streams the METRIC (per-user
  * activation emissions via `flatMapGroupsWithState`, for a live
  * dashboard), this twin streams the INDEX (the at-rest tables the
  * nightly q113 triangle reads, durable across restarts).
  *
  * Exactly-once effect under at-least-once delivery: the advance's two
  * appends are row-level anti-join guarded, so a replayed micro-batch
  * re-derives byte-identical candidate rows and appends nothing — the
  * anti-join key IS the ledger (contrast max-merge's algebraic guard in
  * [[StreamingCardinality]] and the doc-manifest guards in
  * [[StreamingDedup]]). Ordering contract: in-order per user ACROSS
  * micro-batches (the §2.9 ingest-watermark contract, the same one the
  * batch advance and [[StreamingRetention]] state) — a known user's
  * first_day is final at first commit.
  *
  * Cold start: a missing index table (EITHER of the two — the seed's
  * two tmp-swap writes can crash between them, leaving `ret_user`
  * committed and `ret_weeks` missing) means the warehouse is unseeded —
  * the first batch IS the seed ([[Sessions.retentionIndexAt]]; tmp-swap
  * writes leave a crashed table MISSING, never stale, and the replay
  * re-seeds identically, re-writing a committed `ret_user` as a
  * byte-identical replace). Durability follows the tables:
  * across a process restart the checkpoint resumes the stream and the
  * warehouse remembers every previously streamed batch.
  */
object StreamingRetentionIndex {

  final case class IdxEv(user_id: Long, ts: java.sql.Timestamp)

  /** One micro-batch: seed-or-advance the at-rest user-week tables.
    * Routing guards on BOTH tables ([[Sessions.retentionIndexSeeded]]):
    * a crash between the two seed writes leaves `ret_user` committed
    * and `ret_weeks` missing, and a ret_user-only guard would send the
    * replay down the advance path, which reads `ret_weeks` and fails
    * forever; the both-table guard re-seeds instead (tmp-swap writes
    * make the ret_user re-write a byte-identical replace).
    */
  def processBatch(wh: Warehouse, batch: DataFrame, batchId: Long): Unit =
    if (!Sessions.retentionIndexSeeded(wh))
      Sessions.retentionIndexAt(wh.spark, wh.root, batch)
    else
      Sessions.advanceRetentionIndex(wh.spark, wh.root, batch)

  /** One CONTROL micro-batch — op-routed advance/opt-out
    * ([[Twin.control]]): rows with `op = "retract"` are USER OPT-OUT
    * messages (only `user_id` matters; the event payload rides for
    * schema uniformity) and drop every at-rest row of those users
    * ([[Sessions.retractRetentionUsers]] — ret_user-first swaps);
    * everything else advances as usual. Both halves are the batch units
    * verbatim.
    */
  def processControlBatch(wh: Warehouse, batch: DataFrame, batchId: Long): Unit =
    Twin.control(batch)(processBatch(wh, _, batchId),
      rets => Sessions.retractRetentionUsers(wh.spark, wh.root,
        rets.select(col("user_id"))))
}
